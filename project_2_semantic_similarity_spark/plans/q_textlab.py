"""Text-analysis query family (SURVEY.md §2.B north-star "text
analysis"): language ID, quality scoring, token counting,
fingerprinting — all pure Column expressions replicated verbatim in
the DuckDB oracles."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from project_2_semantic_similarity_spark.functions import text_analysis as TA
from project_2_semantic_similarity_spark.operators.cache import keyed_persist
from project_2_semantic_similarity_spark.operators.rank import (
    with_global_rank, with_global_running_sum)
from project_2_semantic_similarity_spark.operators.sampling import (
    CTX_WINDOW as _CTX_WINDOW)
from project_2_semantic_similarity_spark.operators.text import (
    bpe_word_tokens, vocab_join)
from project_2_semantic_similarity_spark.plans.registry import query
from project_2_semantic_similarity_spark.session import local_frame
from project_2_semantic_similarity_spark.sources import load_table


# --------------------------------------------------------------------
# The tokenizer pipeline, one helper per step. Word counts, segmented
# vocabularies and per-doc subword counts are fully determined by the
# documents snapshot, so every materialized one is a keyed_persist slot
# keyed on _doc_src_key: built once per snapshot, replaced when the
# snapshot changes, dropped by clear_slots(). The plain text variant
# is the tl_* slots below; the holdout, byte and marked-byte variants
# build theirs through _words_and_vocab under their own slot prefix.
# Token ids, doc offsets and window slots are plan arithmetic over
# those slots, written once below.


def _doc_src_key(sf_dir: str) -> tuple:
    from project_2_semantic_similarity_spark.sources.tables import (
        source_fingerprint)

    return (sf_dir, source_fingerprint(sf_dir, "documents"))


def _word_counts(texts: DataFrame, *keys: str) -> DataFrame:
    """(*keys, word, cnt) over the space-split ``text`` column."""
    return (texts
            .select(*keys,
                    F.explode(F.split(F.col("text"), " ")).alias("word"))
            .filter(F.col("word") != "")
            .groupBy(*keys, "word").agg(F.count("*").alias("cnt")))


def _bpe_vocab(slot: str, sf_dir: str, words: DataFrame) -> DataFrame:
    """(word, tokens, n_tok): the distinct words of ``words`` under the
    fixed 32-merge fold (bpe_word_tokens), persisted in ``slot``."""
    return keyed_persist(
        slot, _doc_src_key(sf_dir),
        lambda: bpe_word_tokens(words.select("word").distinct()))


def _words_and_vocab(prefix: str, sf_dir: str,
                     texts: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Corpus (word, cnt) over the (doc_id, text) relation ``texts``
    and its segmented vocabulary, as the slots ``{prefix}_words`` and
    ``{prefix}_vocab``: the builder for text variants derived from the
    documents table (a split, a decoration, a byte mapping)."""
    words = keyed_persist(f"{prefix}_words", _doc_src_key(sf_dir),
                          lambda: _word_counts(texts))
    return words, _bpe_vocab(f"{prefix}_vocab", sf_dir, words)


def _doc_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, word, cnt) over the space-split corpus — the shared
    head of the char-level tokenizer family."""
    docs = load_table(spark, sf_dir, "documents")
    return keyed_persist("tl_docwords", _doc_src_key(sf_dir),
                         lambda: _word_counts(docs, "doc_id"))


def _corpus_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global (word, cnt) — the per-doc slot re-aggregated
    (sum of per-doc counts ≡ the direct corpus count)."""
    return (_doc_word_counts(spark, sf_dir)
            .groupBy("word").agg(F.sum("cnt").alias("cnt")))


def _corpus_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixed-32-merge segmented distinct vocabulary of the corpus
    (word, tokens, n_tok)."""
    return _bpe_vocab("tl_vocab", sf_dir, _doc_word_counts(spark, sf_dir))


def _subword_counts(joined: DataFrame) -> DataFrame:
    """(doc_id, n_bpe) over per-doc word counts joined to a segmented
    vocabulary (cnt, n_tok)."""
    return (joined.groupBy("doc_id")
            .agg(F.sum(F.col("cnt") * F.col("n_tok")).alias("n_bpe")))


def _doc_nbpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bpe) under the fixed 32-merge vocabulary; shared by
    the shard and context-window families. Both join sides are slots
    built from the documents scan, so the static planner sizes the
    vocabulary and broadcasts it while it fits, with no probe job."""
    words = _doc_word_counts(spark, sf_dir)
    vocab = _corpus_bpe_vocab(spark, sf_dir)
    return keyed_persist(
        "tl_nbpe", _doc_src_key(sf_dir),
        lambda: _subword_counts(words.join(vocab, "word")))


def _token_freq(words: DataFrame, vocab: DataFrame) -> DataFrame:
    """(token, freq): subword occurrences weighted by word counts."""
    return (vocab_join(words, vocab)
            .select(F.explode("tokens").alias("token"), "cnt")
            .groupBy("token").agg(F.sum("cnt").alias("freq")))


def _token_ids(freq: DataFrame) -> DataFrame:
    """(token, token_id, freq): contiguous ids by (freq DESC, token)
    after the 4 reserved specials (<pad> 0, <unk> 1, <bos> 2,
    <eos> 3). The id is a global rank, so it rides with_global_rank's
    range partitions instead of a single-partition window."""
    return with_global_rank(
        freq, [F.col("freq").desc(), F.col("token").asc()],
        rank_col="rn").select(
        "token", (F.col("rn") + 3).cast("long").alias("token_id"),
        "freq")


def _doc_offsets(counts: DataFrame, n_col: str = "n_bpe") -> DataFrame:
    """(doc_id, n_col, strt): each doc's first position in the global
    stream, the running sum of ``n_col`` over doc_id order."""
    return with_global_running_sum(
        counts, [F.col("doc_id").asc()], n_col, sum_col="cum").select(
        "doc_id", n_col, (F.col("cum") - F.col(n_col)).alias("strt"))


def _window_slot(gpos: Column) -> list[Column]:
    """(window_id, window_pos) of global stream position ``gpos`` in
    the packed _CTX_WINDOW-token context windows."""
    return [F.floor(gpos / _CTX_WINDOW).cast("long").alias("window_id"),
            (gpos % _CTX_WINDOW).cast("long").alias("window_pos")]


def _place_in_windows(stream: DataFrame, offs: DataFrame) -> DataFrame:
    """(window_id, window_pos, token_id): the (doc_id, pos, token_id)
    ``stream`` shifted by its doc's offset. The join stays unhinted:
    AQE broadcasts the doc-sized offsets while they fit."""
    return (stream.join(offs, "doc_id")
            .select(*_window_slot(F.col("strt") + F.col("pos")),
                    "token_id"))


def _fertility(joined: DataFrame, n_col: str,
               *extra: Column) -> DataFrame:
    """Per-doc (doc_id, n_words, n_col, n_distinct_tokens,
    tokens_per_word, *extra) over word counts joined to a segmented
    vocabulary (cnt, n_tok, tokens). One aggregation: the distinct
    count is array_distinct(flatten(collect_list)), not a second
    explode consumer, which would embed the segmentation expression
    twice in the plan and add a shuffle."""
    per_doc = joined.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        F.sum(F.col("cnt") * F.col("n_tok")).alias(n_col),
        F.size(F.array_distinct(F.flatten(F.collect_list("tokens"))))
         .alias("n_distinct_tokens"),
        *extra)
    return per_doc.select(
        "doc_id", "n_words", n_col,
        F.col("n_distinct_tokens").cast("long")
         .alias("n_distinct_tokens"),
        F.round(F.col(n_col) / F.col("n_words"), 6)
         .alias("tokens_per_word"),
        *(F.col(c) for c in per_doc.columns[4:]))


def _in_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


_EN = _in_list(TA.LANG_STOPWORDS["en"])
_DE = _in_list(TA.LANG_STOPWORDS["de"])
_FR = _in_list(TA.LANG_STOPWORDS["fr"])

# DuckDB rendition of the per-language stopword hit count.
_HITS = """
len(list_filter(string_split_regex(trim(text), '\\s+'),
                t -> t IN ({words})))
"""


def _hits_sql(words: str) -> str:
    return _HITS.format(words=words).strip()


@query(
    "text_lang_id",
    oracle=f"""
WITH scored AS (
    SELECT doc_id, lang,
           {_hits_sql(_EN)} AS s_en,
           {_hits_sql(_DE)} AS s_de,
           {_hits_sql(_FR)} AS s_fr
    FROM documents
)
SELECT doc_id, lang,
       CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 THEN 'unknown'
            WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
            WHEN s_de >= s_fr THEN 'de'
            ELSE 'fr' END AS predicted_lang
FROM scored
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID next to the stored label (a
    deterministic stand-in for a real n-gram/fastText model)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "lang",
                    TA.lang_id(F.col("text")).alias("predicted_lang"))


# Shared with corpus_prep_multimodal, which embeds this as a CTE leg.
_QUALITY_SQL = """
WITH feat AS (
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                t -> t <> '')) AS BIGINT) AS n_tokens,
           length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha,
           length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
           len(list_filter(string_split_regex(trim(text), '\\s+'),
                           t -> t IN ({en}))) AS sw
    FROM documents
)
SELECT doc_id, n_chars, n_tokens,
       round(alpha / CAST(n_chars AS DOUBLE), 6) AS alpha_ratio,
       round(
           0.4 * least(n_tokens / 50.0, 1.0)
         + 0.3 * coalesce(alpha / CAST(n_chars AS DOUBLE), 0.0)
         + 0.2 * least(coalesce(sw / CAST(n_tokens AS DOUBLE), 0.0) * 5.0,
                       1.0)
         - 0.1 * coalesce(digits / CAST(n_chars AS DOUBLE), 0.0), 6)
           AS quality
FROM feat
""".replace("{en}", _EN)


@query("text_quality_score", oracle=_QUALITY_SQL)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score from length/alpha/stopword/digit
    signals (linear stand-in for a learned quality classifier)."""
    d = load_table(spark, sf_dir, "documents")
    feats = TA.quality_features(F.col("text"))
    return d.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        F.round(feats["alpha_ratio"], 6).alias("alpha_ratio"),
        F.round(TA.quality_score(F.col("text")), 6).alias("quality"),
    )


@query(
    "text_perplexity_proxy",
    oracle="""
WITH corpus AS (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
),
tok AS (
    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
    FROM corpus
),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
tcnt AS (SELECT term, count(*) AS cnt FROM tok2 GROUP BY term),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok2)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(-ln(c.cnt / tt.n)), 6) AS xent
FROM tok2 t JOIN tcnt c USING (term) CROSS JOIN tot tt
GROUP BY t.doc_id
""",
)
def text_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram cross-entropy against the corpus's own
    unigram LM — the model-based quality filter (CCNet-style: docs
    whose token distribution diverges from the corpus score high and
    get reviewed/dropped), complementing the heuristic
    text_quality_score. exp(xent) is the unigram perplexity.

    Plan shape: token relation joins the (term, count) table on term
    — deliberately a hash join, NOT a broadcast: the vocabulary of a
    web-scale corpus (rare tokens, typos) is itself huge, and the
    join output is exactly one row per token either way. The corpus
    total is a broadcast 1-row aggregate; per-doc reduce is one
    partial+final hash agg."""
    corpus = _corpus_docs(spark, sf_dir)
    toks = (corpus.select(
        "doc_id",
        F.explode(F.array_remove(F.split("text", r"\s+"), ""))
         .alias("term")))
    tcnt = toks.groupBy("term").agg(F.count("*").alias("cnt"))
    tot = toks.agg(F.count("*").cast("double").alias("n"))
    return (
        toks.join(tcnt, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("cnt") / F.col("n"))), 6)
             .alias("xent"),
        )
    )


def _corpus_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with doc_id as string, matching the text-corpus
    shape the oracles' ``CAST(doc_id AS VARCHAR)`` mirrors."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(F.col("doc_id").cast("string").alias("doc_id"),
                    "text")


@query(
    "text_repetition_score",
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
           lead(term, 1) OVER w AS t1,
           lead(term, 2) OVER w AS t2
    FROM tok WHERE term <> ''
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sh AS (
    SELECT doc_id, term || ' ' || t1 || ' ' || t2 AS shingle
    FROM seq WHERE t2 IS NOT NULL
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct,
       round(1 - count(DISTINCT shingle) / CAST(count(*) AS DOUBLE), 6)
           AS repetition
FROM sh GROUP BY doc_id
""",
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Internal-repetition quality rule (the Gopher/MassiveText
    filter: docs where most 3-grams repeat are boilerplate/spam):
    1 − distinct/total 3-gram shingles per doc. Computed array-side
    per document — size and array_distinct over one token array, a
    narrow map with NO shuffle at all (the oracle's window
    formulation shuffles the whole token stream; values identical).
    Docs with fewer than 3 tokens carry no shingles and emit no row
    (both engines)."""
    corpus = _corpus_docs(spark, sf_dir)
    toks = F.array_remove(F.split("text", r"\s+"), "")
    with_toks = corpus.select("doc_id", toks.alias("toks"))
    sh = F.when(
        F.size("toks") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 2),
            lambda i: F.concat_ws(" ", F.slice("toks", i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        with_toks.select("doc_id", sh.alias("sh"))
        .filter(F.size("sh") > 0)
        .select(
            "doc_id",
            F.size("sh").cast("bigint").alias("n_shingles"),
            F.size(F.array_distinct("sh")).cast("bigint")
             .alias("n_distinct"),
            F.round(
                1 - F.size(F.array_distinct("sh"))
                / F.size("sh").cast("double"), 6).alias("repetition"),
        )
    )


_CHUNK_SIZE = 64
_CHUNK_STRIDE = 48
_CHUNK_MAX = 64  # oracle range() bound; fixture docs ≪ this many chunks


@query(
    "text_chunk",
    oracle=f"""
WITH d AS (
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           list_filter(string_split_regex(text, '\\s+'),
                       t -> t <> '') AS toks
    FROM documents
),
n AS (
    SELECT doc_id, toks, len(toks) AS nt,
           CASE WHEN len(toks) <= {_CHUNK_SIZE} THEN 1
                ELSE CAST(ceil((len(toks) - {_CHUNK_SIZE})
                               / {float(_CHUNK_STRIDE)}) AS BIGINT) + 1
           END AS n_chunks
    FROM d
)
SELECT doc_id,
       CAST(k.i AS BIGINT) AS chunk_id,
       CAST(len(toks[CAST(k.i * {_CHUNK_STRIDE} + 1 AS BIGINT)
                     : CAST(k.i * {_CHUNK_STRIDE} + {_CHUNK_SIZE}
                            AS BIGINT)]) AS BIGINT) AS n_tokens,
       array_to_string(toks[CAST(k.i * {_CHUNK_STRIDE} + 1 AS BIGINT)
                            : CAST(k.i * {_CHUNK_STRIDE} + {_CHUNK_SIZE}
                                   AS BIGINT)], ' ') AS chunk_text
FROM n CROSS JOIN range({_CHUNK_MAX}) k(i)
WHERE k.i < n.n_chunks AND n.nt > 0
""",
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token chunks, stride
    48) — the context-window packing / RAG chunking pass: every
    document becomes ⌈(n−size)/stride⌉+1 chunks,
    the final chunk keeps the tail (may be short), empty docs emit
    nothing. Array-side transform + posexplode: a narrow map, no
    shuffle; chunk boundaries are pure arithmetic so any engine
    reproduces them (the determinism a resumable preprocessing job
    needs)."""
    corpus = _corpus_docs(spark, sf_dir)
    toks = F.array_remove(F.split("text", r"\s+"), "")
    with_toks = (corpus.select("doc_id", toks.alias("toks"))
                 .filter(F.size("toks") > 0))
    n_chunks = F.when(
        F.size("toks") <= _CHUNK_SIZE, F.lit(1)
    ).otherwise(
        F.ceil((F.size("toks") - _CHUNK_SIZE)
               / float(_CHUNK_STRIDE)).cast("int") + 1)
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice("toks", i * _CHUNK_STRIDE + 1, _CHUNK_SIZE),
    )
    return (
        with_toks.select(
            "doc_id", F.posexplode(chunks).alias("chunk_id", "chunk"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.size("chunk").cast("bigint").alias("n_tokens"),
            F.concat_ws(" ", F.col("chunk")).alias("chunk_text"),
        )
    )


@query(
    "corpus_source_mix",
    oracle="""
WITH feat AS (
    SELECT doc_id, source, lang,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                t -> t <> '')) AS BIGINT) AS n_tokens,
           length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha,
           length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
           len(list_filter(string_split_regex(trim(text), '\\s+'),
                           t -> t IN ({en}))) AS sw,
           sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS ch
    FROM documents
),
scored AS (
    SELECT source, lang, n_tokens, ch,
           round(
               0.4 * least(n_tokens / 50.0, 1.0)
             + 0.3 * coalesce(alpha / CAST(n_chars AS DOUBLE), 0.0)
             + 0.2 * least(coalesce(sw / CAST(n_tokens AS DOUBLE), 0.0)
                           * 5.0, 1.0)
             - 0.1 * coalesce(digits / CAST(n_chars AS DOUBLE), 0.0),
             6) AS q
    FROM feat
),
hc AS (SELECT ch, count(*) AS cnt FROM scored GROUP BY ch)
SELECT s.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(s.n_tokens) AS BIGINT) AS total_tokens,
       round(avg(s.q), 4) AS mean_quality,
       CAST(count(DISTINCT s.lang) AS BIGINT) AS n_langs,
       CAST(sum(CASE WHEN h.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS dup_docs
FROM scored s JOIN hc h USING (ch)
GROUP BY s.source
""".replace("{en}", _EN),
)
def corpus_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data-mix report — the accounting table every
    training-data pipeline keeps: document and token volume, mean
    quality, language spread, and exact-duplicate share per source.
    The duplicate flag joins each doc to its corpus-wide content-hash
    count (hash-partitioned, sha256 ⇒ uniform keys, no skew); the
    rest is one partial+final hash aggregation by source. Mean
    quality averages the 6-dp-rounded per-doc score and re-rounds to
    4 dp so cross-engine float-summation-order noise (~1e-13) cannot
    flip the hash."""
    from project_2_semantic_similarity_spark.operators.dedup import (
        normalize_text)

    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "source", "lang",
        TA.n_tokens(F.col("text")).alias("n_tokens"),
        F.round(TA.quality_score(F.col("text")), 6).alias("q"),
        F.sha2(normalize_text(F.col("text")), 256).alias("ch"),
    )
    hash_counts = per_doc.groupBy("ch").agg(F.count("*").alias("cnt"))
    return (
        per_doc.join(hash_counts, "ch")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("q"), 4).alias("mean_quality"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
             .alias("dup_docs"),
        )
    )


@query(
    "text_token_count",
    oracle=f"""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                            t -> t <> '')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{TA.BPE_ISH_PATTERN}'))
            AS BIGINT) AS bpe_ish_tokens
FROM documents
""",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + BPE-ish subword chunk count."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TA.n_tokens(F.col("text")).alias("ws_tokens"),
        TA.bpe_ish_token_count(F.col("text")).alias("bpe_ish_tokens"),
    )


@query(
    "text_fingerprint",
    oracle="""
WITH norm AS (
    SELECT doc_id,
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
    FROM documents
)
SELECT doc_id,
       md5(nt) AS fp_md5,
       list_reduce(
           list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(nt, ''),
                                       c -> CAST(ascii(c) AS BIGINT))),
           (acc, c) -> (acc * 31 + c) % 2147483647) AS fp_rolling
FROM norm
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: md5 of normalized text + a polynomial
    rolling hash over the character stream (mod 2^31-1 each step —
    overflow-free under ANSI mode, replicable in any engine)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TA.fingerprint_md5(F.col("text")).alias("fp_md5"),
        TA.fingerprint_rolling(F.col("text")).alias("fp_rolling"),
    )


_PREP_MIN_QUALITY = 0.55
_PREP_MIN_TOKENS = 20
_PREP_MIN_JACCARD = 0.5


# Shared CTE chain for the prep pipeline: quality gate -> exact-dup
# losers -> near-dup losers. Reused verbatim by corpus_prep_pipeline
# (below) and corpus_to_training_shards (plans/q_sampling.py) so the
# two oracles can never drift apart.
PREP_CTES = f"""feat AS (
    SELECT doc_id, text,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                t -> t <> '')) AS BIGINT) AS n_tokens,
           length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha,
           length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
           {_hits_sql(_EN)} AS sw
    FROM documents
),
scored AS (
    SELECT doc_id, text, n_tokens,
           round(
               0.4 * least(n_tokens / 50.0, 1.0)
             + 0.3 * coalesce(alpha / CAST(n_chars AS DOUBLE), 0.0)
             + 0.2 * least(coalesce(sw / CAST(n_tokens AS DOUBLE), 0.0)
                           * 5.0, 1.0)
             - 0.1 * coalesce(digits / CAST(n_chars AS DOUBLE), 0.0), 6)
               AS quality
    FROM feat
),
kept AS (
    SELECT doc_id, text, quality, n_tokens FROM scored
    WHERE quality >= {_PREP_MIN_QUALITY} AND n_tokens >= {_PREP_MIN_TOKENS}
),
hashed AS (
    SELECT doc_id,
           sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS content_hash
    FROM kept
),
exact_loser AS (
    SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (PARTITION BY content_hash
                                  ORDER BY doc_id) AS rn
        FROM hashed
    ) WHERE rn > 1
),
tok AS (
    SELECT doc_id,
           CAST(generate_subscripts(string_split_regex(text, '\\s+'), 1)
                AS BIGINT) AS pos,
           unnest(string_split_regex(text, '\\s+')) AS term
    FROM kept
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
          >= {_PREP_MIN_JACCARD}
),
survivor AS (
    SELECT k.doc_id, k.quality, k.n_tokens
    FROM kept k
    WHERE k.doc_id NOT IN (SELECT doc_id FROM exact_loser)
      AND k.doc_id NOT IN (SELECT doc_id FROM near_loser)
)"""


@query(
    "corpus_prep_pipeline",
    oracle=f"""
WITH {PREP_CTES}
SELECT doc_id, quality FROM survivor
""",
)
def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep pass, the composition a 100 TB
    ingest actually runs: quality gate (composite score >= 0.55 and a
    minimum length — drops ~25% of the synthetic corpus) → exact
    dedup (sha256 of normalized text, lowest doc_id kept) → near-dup
    suppression (3-shingle Jaccard >= 0.5, higher id dropped) →
    surviving (doc_id, quality).

    Every stage is a JVM-side Column expression or hash equi-join
    (no Python in the row path); at scale the near-dup stage swaps
    in minhash-LSH candidate generation (dedup_minhash) with this
    exact Jaccard as the verification join, and the quality gate
    pushes down to the source scan (Catalyst folds the filter into
    the parquet read — the cheapest row is the one never scanned)."""
    from project_2_semantic_similarity_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "text",
        TA.n_tokens(F.col("text")).alias("n_tokens"),
        F.round(TA.quality_score(F.col("text")), 6).alias("quality"),
    )
    from project_2_semantic_similarity_spark.operators.cache import (
        keyed_persist)
    from project_2_semantic_similarity_spark.sources.tables import (
        source_fingerprint)

    kept = keyed_persist(
        "prep_kept", (sf_dir, source_fingerprint(sf_dir, "documents")),
        lambda: scored.filter(
            (F.col("quality") >= _PREP_MIN_QUALITY)
            & (F.col("n_tokens") >= _PREP_MIN_TOKENS)))
    exact_winners = D.exact_dedup(kept.select("doc_id", "text")) \
        .select("doc_id")
    near_losers = (
        D.jaccard_pairs(D.shingles(kept.select("doc_id", "text")),
                        _PREP_MIN_JACCARD)
        .select(F.col("doc_b").alias("doc_id")).distinct()
    )
    return (
        kept.select("doc_id", "quality")
        .join(exact_winners, "doc_id", "left_semi")
        .join(near_losers, "doc_id", "left_anti")
    )


@query(
    "text_pii_scrub",
    oracle=f"""
WITH decorated AS (
    SELECT doc_id,
           text || ' contact user' || doc_id
                || '@example.com or 555-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               AS text
    FROM documents
)
SELECT doc_id,
       regexp_replace(
           regexp_replace(text, '{TA.EMAIL_PATTERN}', '<EMAIL>', 'g'),
           '{TA.PHONE_PATTERN}', '<PHONE>', 'g') AS scrubbed,
       CAST(len(regexp_extract_all(text, '{TA.EMAIL_PATTERN}'))
            AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{TA.PHONE_PATTERN}'))
            AS BIGINT) AS n_phones
FROM decorated
""",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails, phone-shaped numbers) — the standard
    pre-training scrub pass. The synthetic corpus contains no PII,
    so each document is deterministically decorated with a synthetic
    email + phone derived from its id; the scrub must redact exactly
    those (oracle applies the identical decoration + patterns). Pure
    JVM regexp — no Python in the row path."""
    d = load_table(spark, sf_dir, "documents")
    decorated = d.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"),
            F.col("doc_id").cast("string"), F.lit("@example.com or 555-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"),
                   4, "0"),
        ).alias("text"))
    n_emails, n_phones = TA.pii_counts(F.col("text"))
    return decorated.select(
        "doc_id",
        TA.scrub_pii(F.col("text")).alias("scrubbed"),
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
    )


@query(
    "corpus_prep_pipeline_lsh",
    oracle=f"""
WITH {PREP_CTES}
SELECT doc_id, quality FROM survivor
""",
)
def corpus_prep_pipeline_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The prep pipeline's SCALE PATH, composed end-to-end: quality
    gate → exact dedup → minhash-LSH candidate DISCOVERY → exact
    Jaccard VERIFICATION restricted to candidates (jaccard_on_pairs)
    → suppression. Semantically the same contract as
    corpus_prep_pipeline (same oracle), physically the shape every
    docstring in operators/dedup.py points to: the all-co-shingled
    Jaccard join is replaced by O(n) signatures + a banded equi-join,
    and the quadratic-ish verification runs over candidates only.
    Measured at the 1M-doc probe (SCALE.md): 166 s → 147 s, modest
    BECAUSE that probe's hashed vocabulary has no hot shingles — the
    co-shingled pair set is already near the true pair set, the
    exact join's best case. The structural win appears on real text,
    where stopword-heavy shingles make the co-shingle join fan out
    super-linearly while LSH candidate volume keeps tracking the
    TRUE near-dup count; discovery cost stays O(n) signatures
    either way.

    Determinism note: the two pipelines agree whenever banded LSH
    (16 bands × 4 rows) recalls every J ≥ 0.5 pair — guaranteed-miss
    probability is 0 only asymptotically, but the discovery is fully
    DETERMINISTIC (md5-seeded portable hash family, no RNG), so on a
    given corpus the two either provably agree or provably don't;
    tests/test_round5_ops.py pins their equality on the fixture
    corpus at the driver's SFs, making the shared oracle a stable
    check rather than a probabilistic one."""
    return _prep_lsh_survivors(spark, sf_dir)


def _prep_lsh_survivors(spark: SparkSession, sf_dir: str,
                        stage_to: str | None = None) -> DataFrame:
    """The LSH prep pipeline's shared plan. ``stage_to=None`` (the
    query path) keeps the whole pipeline one lazy plan with
    keyed_persist slots for the reused relations. ``stage_to=<dir>``
    is the SCALE path: every wide stage boundary (kept docs,
    shingles, signatures, candidates, near-dup losers) is
    materialized to parquet via checkpoint_parquet, so peak local
    scratch is one stage's shuffle — not the >77 GB concurrent sum
    the r6 10M-doc probe hit (SCALE.md; r6 VERDICT #6) — and each
    boundary doubles as a restart point for a failed downstream
    stage on a real cluster."""
    import os

    from project_2_semantic_similarity_spark.operators import dedup as D
    from project_2_semantic_similarity_spark.operators.cache import (
        checkpoint_parquet, keyed_persist)
    from project_2_semantic_similarity_spark.sources.tables import (
        source_fingerprint)

    def stage(name: str, build):
        if stage_to is not None:
            return checkpoint_parquet(build(),
                                      os.path.join(stage_to, name))
        return build()

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "text",
        TA.n_tokens(F.col("text")).alias("n_tokens"),
        F.round(TA.quality_score(F.col("text")), 6).alias("quality"),
    )

    def build_kept():
        return scored.filter(
            (F.col("quality") >= _PREP_MIN_QUALITY)
            & (F.col("n_tokens") >= _PREP_MIN_TOKENS))

    if stage_to is not None:
        kept = stage("kept", build_kept)
        sh = stage("shingles",
                   lambda: D.shingles(kept.select("doc_id", "text")))
    else:
        key = (sf_dir, source_fingerprint(sf_dir, "documents"))
        kept = keyed_persist("prep_kept", key, build_kept)
        sh = keyed_persist(
            "prep_kept_shingles", key,
            lambda: D.shingles(kept.select("doc_id", "text")))
    exact_winners = D.exact_dedup(kept.select("doc_id", "text")) \
        .select("doc_id")
    variant = D.probe_minhash_variant(kept)

    def build_sigs():
        return D.minhash_signatures(
            sh, num_hashes=64, seed=42, variant=variant,
            hash_family="portable")

    if stage_to is not None:
        sigs = stage("sigs", build_sigs)
    else:
        # the dedup_minhash discipline: signatures are the pipeline's
        # materialization point (64 md5 hashes per shingle row —
        # rebuilt per execution before r14, the costliest stage of
        # the warm pass) and feed both sides of the banded candidate
        # join; kept-subset signatures get their own slot because the
        # full-corpus minhash_sigs_portable slot is a different
        # relation
        sigs = keyed_persist("prep_lsh_sigs", key, build_sigs)
    cands = stage("cands", lambda: D.minhash_lsh_candidates(
        sigs, num_hashes=64, bands=16))
    near_losers = stage("near_losers", lambda: (
        D.jaccard_on_pairs(cands, sh)
        .filter(F.col("jaccard") >= _PREP_MIN_JACCARD)
        .select(F.col("doc_b").alias("doc_id")).distinct()
    ))
    return (
        kept.select("doc_id", "quality")
        .join(exact_winners, "doc_id", "left_semi")
        .join(near_losers, "doc_id", "left_anti")
    )


@query(
    "text_zipf_fit",
    oracle="""
WITH tok AS (
    SELECT unnest(string_split_regex(text, '\\s+')) AS term
    FROM documents
),
freq AS (
    SELECT term, count(*) AS f FROM tok WHERE term <> '' GROUP BY term
),
ranked AS (
    SELECT f, row_number() OVER (ORDER BY f DESC, term) AS r
    FROM freq
),
pts AS (
    SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
    FROM ranked WHERE r <= 500
),
m AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
           sum(x * y) AS sxy, sum(y * y) AS syy
    FROM pts
)
SELECT CAST(n AS BIGINT) AS n_terms,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((sy * sxx - sx * sxy) / (n * sxx - sx * sx), 6)
           AS intercept,
       round(pow(n * sxy - sx * sy, 2)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM m
""",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus term distribution: OLS of
    log-frequency against log-rank over the top-500 terms — slope
    ≈ −1 is what natural language looks like, and a corpus-health
    check pipelines run after every major filter (aggressive dedup
    or quality filtering visibly flattens the head). Composes the
    tokenizer with the sufficient-moments OLS of
    agg_regression_group; ranking ties break on the term string so
    the point set is deterministic.

    Scale: term counting is the flagship's one hash agg; the rank
    is top-500-by-frequency (TakeOrderedAndProject-sized), so the
    regression runs on a driver-tiny relation no matter the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.array_remove(
            F.split(F.col("text"), r"\s+"), "")).alias("term"))
    freq = tok.groupBy("term").agg(F.count("*").alias("f"))
    ranked = (freq.orderBy(F.col("f").desc(), "term").limit(500)
              .select(F.col("f"),
                      F.row_number().over(
                          Window.orderBy(F.col("f").desc(), "term"))
                      .alias("r")))
    pts = ranked.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("f").cast("double")).alias("y"))
    m = pts.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"))
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    det = n * sxx - sx * sx
    return m.select(
        n.cast("bigint").alias("n_terms"),
        F.round((n * sxy - sx * sy) / det, 6).alias("zipf_slope"),
        F.round((sy * sxx - sx * sxy) / det, 6).alias("intercept"),
        F.round(F.pow(n * sxy - sx * sy, F.lit(2))
                / (det * (n * syy - sy * sy)), 6).alias("r2"))


@query(
    "text_perplexity_bigram",
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
tok2 AS (SELECT doc_id, pos, term FROM tok WHERE term <> ''),
big AS (
    SELECT doc_id, term AS w1,
           lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM tok2
),
big2 AS (SELECT doc_id, w1, w2 FROM big WHERE w2 IS NOT NULL),
bcnt AS (SELECT w1, w2, count(*) AS bc FROM big2 GROUP BY w1, w2),
ucnt AS (SELECT w1, count(*) AS uc FROM big2 GROUP BY w1),
vocab AS (SELECT CAST(count(DISTINCT term) AS DOUBLE) AS v FROM tok2)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(-ln((c.bc + 0.5) / (u.uc + 0.5 * vv.v))), 6)
           AS bigram_xent
FROM big2 b
JOIN bcnt c ON c.w1 = b.w1 AND c.w2 = b.w2
JOIN ucnt u ON u.w1 = b.w1
CROSS JOIN vocab vv
GROUP BY b.doc_id
""",
)
def text_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM cross-entropy per document with add-k smoothing
    (k=0.5) — the sequence-aware upgrade of text_perplexity_proxy's
    unigram model: P(w2|w1) = (c(w1,w2)+k) / (c(w1·)+kV), so word-
    salad documents score high even when their unigram profile looks
    natural (the quality signal unigram models are blind to).
    Context counts c(w1·) are bigram-row counts, making the
    conditional distribution properly normalized over the smoothed
    vocabulary.

    Scale: bigrams form via one per-doc window (lead over pos —
    shares the doc_id shuffle), the two count relations are
    map-side-combinable hash aggs joined back by (w1,w2)/(w1)
    equi-joins, V is a 1-row broadcast. Everything is token-volume
    linear; no vocabulary-sized driver state."""
    docs = load_table(spark, sf_dir, "documents")
    tok = (docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.posexplode(F.split("text", r"\s+")).alias("pos", "term"))
        .filter(F.col("term") != ""))
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (tok.select("doc_id", F.col("term").alias("w1"),
                      F.lead("term").over(w).alias("w2"))
           .filter(F.col("w2").isNotNull()))
    bcnt = big.groupBy("w1", "w2").agg(F.count("*").alias("bc"))
    ucnt = big.groupBy("w1").agg(F.count("*").alias("uc"))
    vocab = tok.agg(
        F.countDistinct("term").cast("double").alias("v"))
    scored = (big.join(bcnt, ["w1", "w2"])
              .join(ucnt, ["w1"])
              .crossJoin(F.broadcast(vocab))
              .select("doc_id",
                      (-F.log((F.col("bc") + 0.5)
                              / (F.col("uc") + 0.5 * F.col("v"))))
                      .alias("nll")))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_bigrams"),
                 F.round(F.avg("nll"), 6).alias("bigram_xent")))


@query(
    "text_lang_confusion",
    oracle=f"""
WITH scored AS (
    SELECT doc_id, lang,
           {_hits_sql(_EN)} AS s_en,
           {_hits_sql(_DE)} AS s_de,
           {_hits_sql(_FR)} AS s_fr
    FROM documents
),
pred AS (
    SELECT lang,
           CASE WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 THEN 'unknown'
                WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
                WHEN s_de >= s_fr THEN 'de'
                ELSE 'fr' END AS predicted_lang
    FROM scored
)
SELECT lang, predicted_lang,
       CAST(count(*) AS BIGINT) AS n
FROM pred GROUP BY lang, predicted_lang
""",
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID CONFUSION MATRIX — the evaluation harness for the
    classifier, in the engine (the lang-ID sibling of
    knn_recall_eval): stored label × predicted label counts, the
    one table that says where the classifier is wrong and how much
    of the corpus each error mode would mislabel at scale. One
    narrow scoring map (text_lang_id's codegen'd stopword counter)
    feeding one map-side-combinable agg over a
    |langs|×|langs|-bounded key space."""
    d = load_table(spark, sf_dir, "documents")
    return (d.select("lang",
                     TA.lang_id(F.col("text")).alias("predicted_lang"))
            .groupBy("lang", "predicted_lang")
            .agg(F.count("*").cast("bigint").alias("n")))


@query(
    "text_ngram_novelty",
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
           lead(term, 2) OVER w AS t2
    FROM tok WHERE term <> ''
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sh AS (
    SELECT DISTINCT doc_id, term || ' ' || t1 || ' ' || t2 AS shingle
    FROM seq WHERE t2 IS NOT NULL
),
df AS (
    SELECT shingle, count(*) AS df FROM sh GROUP BY shingle
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_unique,
       round(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS novelty
FROM sh s JOIN df d USING (shingle)
GROUP BY s.doc_id
""",
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTRIBUTION scoring for dataset curation: the fraction of a
    document's distinct 3-gram shingles that appear NOWHERE else in
    the corpus — the doc-level answer to \"what does keeping this
    document actually add?\" (near-zero novelty = fully covered by
    the rest of the corpus; dedup's complement, ranking by
    information contribution instead of flagging sameness). One
    shingle relation (array-side build, operators/dedup.py
    shingles), one shingle-frequency hash agg, one join back — the
    same discover-side machinery as dedup_jaccard_exact, read
    through a different lens.

    Scale: all terms are shingle-volume linear; the df relation is
    vocabulary-sized and the join is hash-to-hash (deliberately NOT
    broadcast — web-scale shingle vocabularies are huge)."""
    from project_2_semantic_similarity_spark.operators.dedup import (
        shingles)

    docs = load_table(spark, sf_dir, "documents")
    sh = shingles(docs, 3)
    df_rel = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    uniq = F.when(F.col("df") == 1, 1).otherwise(0)
    return (sh.join(df_rel, "shingle")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_shingles"),
                 F.sum(uniq).cast("bigint").alias("n_unique"),
                 F.round(F.sum(uniq) / F.count("*").cast("double"), 6)
                 .alias("novelty")))


@query(
    "corpus_prep_multimodal",
    oracle="""
WITH q AS (SELECT * FROM ({quality}) t),
norm AS (
    SELECT doc_id,
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
               AS norm_text
    FROM documents
),
keep_ids AS (
    SELECT doc_id FROM (
        SELECT doc_id, row_number() OVER (
            PARTITION BY norm_text ORDER BY doc_id) AS rn
        FROM norm) WHERE rn = 1
),
dims AS (
    SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
    FROM documents
),
chan AS (
    SELECT d.doc_id, c.c,
           avg(CAST((3 * d.doc_id + 11 * x.i + 19 * y.i + 37 * c.c)
                    % 256 AS DOUBLE)) AS mean_c
    FROM dims d
    CROSS JOIN range(8) x(i)
    CROSS JOIN range(6) y(i)
    CROSS JOIN range(3) c(c)
    WHERE x.i < d.w AND y.i < d.h
    GROUP BY d.doc_id, c.c
),
bright AS (
    SELECT doc_id,
           round((max(CASE WHEN c = 0 THEN mean_c END)
                + max(CASE WHEN c = 1 THEN mean_c END)
                + max(CASE WHEN c = 2 THEN mean_c END)) / 3.0, 6)
               AS img_brightness
    FROM chan GROUP BY doc_id
)
SELECT q.doc_id, q.quality, b.img_brightness
FROM q
JOIN keep_ids USING (doc_id)
JOIN bright b ON b.doc_id = q.doc_id
WHERE q.quality >= 0.68 AND b.img_brightness BETWEEN 100 AND 160
""".replace("{quality}", _QUALITY_SQL),
)
def corpus_prep_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MULTIMODAL prep pass — the text pipeline
    (corpus_prep_pipeline) extended with a real image gate, the
    composition a vision-language ingest runs: composite text
    quality >= 0.68 AND exact text dedup (sha256 of normalized text,
    lowest id kept) AND image mean brightness in [100, 160] (the
    drop-too-dark/too-bright rule, computed from the FULLY DECODED
    PNG raster — zlib + filter reconstruction, not metadata). All
    three gate relations key on doc_id, so the joins co-partition on
    one key; the image leg is the zero-shuffle codec stage feeding
    one hash join.

    Brightness is computed channel-mean-first ((r+g+b)/3 of the
    per-channel means) IDENTICALLY in the oracle so both engines
    round the same float; the gate compares the rounded value.

    At 100 TB: quality pushes into the text scan; the dedup window
    shuffles 32-byte hashes; the decode stage is Arrow-batched and
    narrow — the pipeline's only wide ops are one window and two
    equi-joins on the same key."""
    from project_2_semantic_similarity_spark.operators import dedup as D
    from project_2_semantic_similarity_spark.operators.multimodal import (
        attach_png_payload, decode_image)

    docs = load_table(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id",
        F.round(TA.quality_score(F.col("text")), 6).alias("quality"))
    hashed = docs.select(
        "doc_id",
        F.sha2(D.normalize_text(F.col("text")), 256).alias("h"))
    w = Window.partitionBy("h").orderBy(F.col("doc_id").asc())
    keep = (hashed.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).select("doc_id"))
    img = decode_image(attach_png_payload(docs))
    bright = img.select(
        "doc_id",
        F.round((F.col("mean_r") + F.col("mean_g") + F.col("mean_b"))
                / 3.0, 6).alias("img_brightness"))
    return (q.join(keep, "doc_id").join(bright, "doc_id")
            .filter((F.col("quality") >= 0.68)
                    & F.col("img_brightness").between(100.0, 160.0))
            .select("doc_id", "quality", "img_brightness"))


def _bpe_oracle_ctes(docs_rel: str = "documents") -> str:
    """Shared DuckDB re-derivation of the BPE tokenization: the
    merges VALUES table (generated from operators/text.py BPE_MERGES
    — one source of truth), per-doc word counts, and a RECURSIVE CTE
    that applies one leftmost single-replace per step in the
    space-separated encoding (' a b ' -> ' ab '), advancing to the
    next rank only when the current pattern is absent — provably
    identical to the Spark side's per-merge left-fold. ``docs_rel``
    lets callers train the vocabulary on a SUBSET (the holdout
    query's train split)."""
    from project_2_semantic_similarity_spark.operators.text import (
        BPE_MERGES, bpe_merges_values_sql)

    n = len(BPE_MERGES)
    return f"""
merges(rank, pat, rep) AS (
    VALUES {bpe_merges_values_sql()}
),
words AS (
    SELECT doc_id, w AS word, count(*) AS cnt
    FROM {docs_rel},
         unnest(list_filter(string_split(text, ' '), x -> x <> ''))
             AS t(w)
    GROUP BY doc_id, w
),
vocab AS (SELECT DISTINCT word FROM words),
seed AS (
    SELECT word, 1 AS rank,
           ' ' || array_to_string(
               list_transform(range(length(word)),
                              i -> substr(word, CAST(i + 1 AS INT), 1)),
               ' ') || ' ' AS s
    FROM vocab
),
bpe AS (
    SELECT * FROM seed
    UNION ALL
    SELECT b.word,
           CASE WHEN strpos(b.s, m.pat) > 0
                THEN b.rank ELSE b.rank + 1 END,
           CASE WHEN strpos(b.s, m.pat) > 0
                THEN substr(b.s, 1, strpos(b.s, m.pat) - 1) || m.rep
                     || substr(b.s, strpos(b.s, m.pat) + length(m.pat))
                ELSE b.s END
    FROM bpe b JOIN merges m ON m.rank = b.rank
    WHERE b.rank <= {n}
),
tokenized AS (
    SELECT word,
           list_filter(string_split(trim(s, ' '), ' '), x -> x <> '')
               AS tokens
    FROM bpe WHERE rank = {n + 1}
)"""


@query(
    "text_bpe_tokenize",
    oracle=f"""
WITH RECURSIVE {_bpe_oracle_ctes()},
sums AS (
    SELECT w.doc_id,
           CAST(sum(w.cnt) AS BIGINT) AS n_words,
           CAST(sum(w.cnt * len(t.tokens)) AS BIGINT) AS n_bpe_tokens
    FROM words w JOIN tokenized t USING (word)
    GROUP BY w.doc_id
),
dcounts AS (
    SELECT doc_id, CAST(count(DISTINCT u.x) AS BIGINT)
               AS n_distinct_tokens
    FROM words w
    JOIN tokenized t USING (word), unnest(t.tokens) AS u(x)
    GROUP BY doc_id
)
SELECT s.doc_id, s.n_words, s.n_bpe_tokens, d.n_distinct_tokens,
       round(s.n_bpe_tokens * 1.0 / s.n_words, 6) AS tokens_per_word
FROM sums s JOIN dcounts d USING (doc_id)
""",
)
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword (BPE) tokenization. A fixed ranked merges table
    (operators/text.py BPE_MERGES: 32 merges with multi-level chains
    and cross-rank interactions) is applied in rank order as
    `aggregate` left-folds — pure JVM column expressions, zero Python
    in the tokenize path. The corpus-scale trick: tokenize the
    DISTINCT-WORD vocabulary (thousands of rows), then join subword
    counts back onto per-doc word counts — BPE cost is paid per
    vocabulary entry, not per corpus token. The vocab join is
    UNHINTED: AQE broadcasts it while the vocabulary fits under
    autoBroadcastJoinThreshold and shuffle-joins past it — a hard
    hint would die building the broadcast at the 10^8-10^9 distinct
    words of a web crawl. Emits per-doc word/subword counts,
    distinct-subword cardinality, and the tokens-per-word fertility
    ratio. The DuckDB oracle re-derives the merges with a RECURSIVE
    single-replace CTE that is provably equivalent to the fold
    (leftmost-first, rank-ordered), so any merge-order or
    scan-direction bug breaks the hash.

    At 100 TB: explode + per-doc word count (one shuffle on
    (doc_id, word)), a vocabulary distinct (second shuffle, output
    vocabulary-sized), the 32-merge fold over the small vocab
    relation, and one AQE-decided join back — the corpus text never
    moves after the first aggregation."""
    words = _doc_word_counts(spark, sf_dir)
    vocab = _corpus_bpe_vocab(spark, sf_dir)
    return _fertility(words.join(vocab, "word"), "n_bpe_tokens")


_BPE_SHARD_BUDGET = 3000  # subword tokens per shard


@query(
    "text_token_count_bpe",
    oracle=f"""
WITH RECURSIVE {_bpe_oracle_ctes()},
counted AS (
    SELECT w.doc_id,
           CAST(sum(w.cnt * len(t.tokens)) AS BIGINT) AS n_bpe_tokens
    FROM words w JOIN tokenized t USING (word)
    GROUP BY w.doc_id
),
total AS (
    SELECT greatest(1, CAST(ceil(CAST(sum(n_bpe_tokens) AS BIGINT)
                                 / {float(_BPE_SHARD_BUDGET)}) AS BIGINT))
               AS n_shards
    FROM counted
)
SELECT c.doc_id, c.n_bpe_tokens,
       CAST(floor(CAST('0x' || substr(md5('bpe_shard:' ||
                                          CAST(c.doc_id AS VARCHAR)), 1, 4)
                       AS INTEGER) * t.n_shards / 65536.0) AS BIGINT)
           AS shard_id
FROM counted c CROSS JOIN total t
""",
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_pack_shards re-pointed at the SUBWORD budget: training
    shards are sized in BPE tokens (~3000/shard), which is how real
    LLM data pipelines budget — whitespace counts under-count
    fertility on rare words. Same scale-safe scheme as pack_shards
    (one scalar aggregate broadcast back + hash assignment — no
    global prefix sum), with the token counts from the persisted
    per-doc subword counts the context-window family reads
    (_doc_nbpe: the vocabulary-tokenize + unhinted vocab-join plan)."""
    # the persisted per-doc counts feed both the scalar shard-count
    # aggregate and the final projection without a second subtree
    counted = _doc_nbpe(spark, sf_dir).withColumnRenamed(
        "n_bpe", "n_bpe_tokens")
    total = counted.agg(
        F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.sum("n_bpe_tokens")
                   / F.lit(float(_BPE_SHARD_BUDGET)))).alias("n_shards"))
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit("bpe_shard:"),
                                   F.col("doc_id").cast("string"))),
                    1, 4), 16, 10).cast("long")
    return (counted.crossJoin(F.broadcast(total))
            .select("doc_id", "n_bpe_tokens",
                    F.floor(bucket * F.col("n_shards") / F.lit(65536.0))
                     .cast("long").alias("shard_id")))


_BPE_LARGE_N = 10_000  # realistic merge-table scale


def _bpe_large_oracle() -> str:
    """DuckDB re-derivation of the LARGE-table tokenization. The
    32-merge oracle steps rank-by-rank (10k ranks would mean 10k
    recursion iterations — measured 66 s); this one SKIPS to the
    next applicable rank via a LATERAL min-rank probe, so recursion
    depth is the number of merges actually APPLIED per word (≤
    len(word)-1), independent of table size — measured 0.6 s at 10k
    merges. Single-replace per step with full rescan keeps the
    shared-space leftmost semantics of the fold; min-rank-first is
    equivalent to rank-ordered passes on a well-formed table (see
    operators/text.py module comment)."""
    from project_2_semantic_similarity_spark.operators.text import (
        large_merges, merges_compact_literal)

    lit = merges_compact_literal(large_merges(_BPE_LARGE_N))
    return f"""
WITH RECURSIVE raw AS (SELECT string_split('{lit}', ';') AS l),
merges AS (
    SELECT CAST(unnest(range(len(l))) + 1 AS BIGINT) AS rank,
           ' ' || replace(unnest(l), '|', ' ') || ' ' AS pat,
           ' ' || replace(unnest(l), '|', '') || ' ' AS rep
    FROM raw
),
words AS (
    SELECT doc_id, w AS word, count(*) AS cnt
    FROM documents,
         unnest(list_filter(string_split(text, ' '), x -> x <> ''))
             AS t(w)
    GROUP BY doc_id, w
),
vocab AS (SELECT DISTINCT word FROM words),
seed AS (
    SELECT word, CAST(0 AS BIGINT) AS rank,
           ' ' || array_to_string(
               list_transform(range(length(word)),
                              i -> substr(word, CAST(i + 1 AS INT), 1)),
               ' ') || ' ' AS s
    FROM vocab
),
bpe AS (
    SELECT * FROM seed
    UNION ALL
    SELECT b.word, nxt.rank,
           substr(b.s, 1, strpos(b.s, nxt.pat) - 1) || nxt.rep
               || substr(b.s, strpos(b.s, nxt.pat) + length(nxt.pat))
    FROM bpe b
    JOIN LATERAL (
        SELECT m.rank, m.pat, m.rep FROM merges m
        WHERE m.rank >= b.rank AND strpos(b.s, m.pat) > 0
        ORDER BY m.rank LIMIT 1
    ) nxt ON true
),
tokenized AS (
    SELECT word,
           list_filter(string_split(trim(b.s, ' '), ' '), x -> x <> '')
               AS tokens
    FROM bpe b
    WHERE NOT EXISTS (SELECT 1 FROM merges m
                      WHERE m.rank >= b.rank
                        AND strpos(b.s, m.pat) > 0)
),
sums AS (
    SELECT w.doc_id,
           CAST(sum(w.cnt) AS BIGINT) AS n_words,
           CAST(sum(w.cnt * len(t.tokens)) AS BIGINT) AS n_bpe_tokens
    FROM words w JOIN tokenized t USING (word)
    GROUP BY w.doc_id
),
dcounts AS (
    SELECT doc_id, CAST(count(DISTINCT u.x) AS BIGINT)
               AS n_distinct_tokens
    FROM words w
    JOIN tokenized t USING (word), unnest(t.tokens) AS u(x)
    GROUP BY doc_id
)
SELECT s.doc_id, s.n_words, s.n_bpe_tokens, d.n_distinct_tokens,
       round(s.n_bpe_tokens * 1.0 / s.n_words, 6) AS tokens_per_word
FROM sums s JOIN dcounts d USING (doc_id)
"""


@query("text_bpe_tokenize_10k", oracle=_bpe_large_oracle())
def text_bpe_tokenize_10k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text_bpe_tokenize at REALISTIC merge scale:
    the same per-doc fertility surface, driven by a 10,000-row
    ranked merge table. The 32-merge fold embeds one Catalyst lambda
    per merge — unusable at 10k (analysis alone is minutes, see
    SCALE.md) — so the large table goes DATA-side: one explicit
    broadcast of the rank dict and one Arrow `mapInPandas` iterative
    applier (operators/text.py bpe_apply_word, the Sennrich/GPT-2
    inference algorithm) over the distinct-word vocabulary. Python
    touches vocabulary rows only; the corpus-scale plan is unchanged
    from text_bpe_tokenize (two shuffles + AQE-decided join back).
    Twin-pinned: applier == fold on the 32-merge table
    (tests/test_text.py), and this query's oracle re-derives the 10k
    table with a skip-to-next-rank recursive CTE, so a rank-order or
    leftmost-scan bug in the applier breaks the hash."""
    from project_2_semantic_similarity_spark.operators.text import (
        bpe_word_tokens_arrow, large_merges)

    words = _word_counts(load_table(spark, sf_dir, "documents"), "doc_id")
    vocab = bpe_word_tokens_arrow(words.select("word").distinct(),
                                  large_merges(_BPE_LARGE_N))
    return _fertility(words.join(vocab, "word"), "n_bpe_tokens")


_BPE_TRAIN_ROUNDS = 10

# Shared trainer-oracle prefix: corpus word counts + character-level
# seed segmentation (space-separated, sentinel-padded) — the starting
# state of both the sequential and the batched trainer chains.
_BPE_WORDS_SEG1 = """words AS MATERIALIZED (
    SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
    FROM documents,
         unnest(list_filter(string_split(text, ' '), x -> x <> ''))
             AS t(w)
    GROUP BY w
),
seg1 AS MATERIALIZED (
    SELECT word, cnt,
           ' ' || array_to_string(
               list_transform(range(length(word)),
                              i -> substr(word, CAST(i + 1 AS INT), 1)),
               ' ') || ' ' AS s
    FROM words
)"""


def _bpe_train_ctes(k: int = _BPE_TRAIN_ROUNDS,
                    seed_sql: str | None = None) -> str:
    """Unrolled k-round CTE chain re-deriving the trainer (the
    cluster_kmeans oracle discipline: iterative but deterministic,
    so each round is its own CTE block) — ends at seg{k+1}, the
    TRAINED segmentation, so composed oracles
    (corpus_to_training_batches) reuse the chain verbatim. Round r =
    pair counts over the current segmentation (adjacent-symbol zip,
    weighted by word count), argmax with the (count DESC, a, b)
    tie-break, then a bounded RECURSIVE single-replace apply (full
    rescan per step keeps the shared-space leftmost semantics —
    ' a a a ' must become ' aa a ', which replace-all misses because
    consecutive occurrences share the middle space). MATERIALIZED
    CTEs are load-bearing: inlined, each round re-expands the whole
    prefix chain and the plan re-opens the parquet scan 3^k times
    (the first draft died on EMFILE). ``seed_sql`` swaps the
    words+seg1 prefix — the byte-level trainer passes the
    byte-to-unicode seed; everything from pairs1 on is alphabet-
    agnostic."""
    parts = [_BPE_WORDS_SEG1 if seed_sql is None else seed_sql]
    for r in range(1, k + 1):
        parts.append(f""",
pairs{r} AS (
    SELECT pr[1] AS a, pr[2] AS b,
           CAST(sum(cnt) AS BIGINT) AS pair_cnt
    FROM (
        SELECT cnt,
               unnest(list_transform(range(len(l) - 1),
                                     i -> [l[i + 1], l[i + 2]])) AS pr
        FROM (SELECT cnt, string_split(trim(s, ' '), ' ') AS l
              FROM seg{r})
    ) GROUP BY pr[1], pr[2]
),
best{r} AS MATERIALIZED (
    SELECT a, b, pair_cnt,
           ' ' || a || ' ' || b || ' ' AS pat,
           ' ' || a || b || ' ' AS rep
    FROM pairs{r} ORDER BY pair_cnt DESC, a, b LIMIT 1
),
app{r} AS (
    SELECT word, cnt, s FROM seg{r}
    UNION ALL
    SELECT a.word, a.cnt,
           substr(a.s, 1, strpos(a.s, b.pat) - 1) || b.rep
               || substr(a.s, strpos(a.s, b.pat) + length(b.pat))
    FROM app{r} a, best{r} b
    WHERE strpos(a.s, b.pat) > 0
),
seg{r + 1} AS MATERIALIZED (
    SELECT a.word, a.cnt, a.s FROM app{r} a, best{r} b
    WHERE strpos(a.s, b.pat) = 0
)""")
    return "".join(parts)


def _bpe_train_oracle(k: int = _BPE_TRAIN_ROUNDS,
                      seed_sql: str | None = None) -> str:
    return ("WITH RECURSIVE " + _bpe_train_ctes(k, seed_sql) + "\n"
            + "\nUNION ALL\n".join(
                f"SELECT CAST({r} AS BIGINT) AS rank, a AS left_sym, "
                f"b AS right_sym, pair_cnt FROM best{r}"
                for r in range(1, k + 1)))


@query("text_bpe_train", oracle=_bpe_train_oracle())
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TRAINER — learn the merge table from the
    corpus: 10 rounds of most-frequent-adjacent-pair argmax over the
    word-count-weighted vocabulary segmentation (Sennrich et al.
    2016 §3.2 learn_bpe), deterministic (count DESC, left, right)
    tie-break, emitting (rank, left_sym, right_sym, pair_cnt). The
    output composes with the appliers: feeding the learned table to
    bpe_word_tokens_arrow == the fold on the same table
    (tests/test_text.py twin).

    Plan (the cluster_kmeans discipline): the shared trainer loop in
    operators/text.py bpe_train_rounds — per round, adjacent pairs
    via a JVM transform-over-sequence zip + explode, one
    vocabulary-sized hash agg, argmax as TakeOrdered(1), the winner
    broadcast back by crossJoin, and the merge applied with the same
    `aggregate` fold as bpe_segment — parameterized by the winner's
    COLUMNS, so no Python and no driver round-trip carries data.
    localCheckpoint per round truncates the 10-round lineage
    (expression trees would otherwise nest 10 folds deep). At 100 TB
    the corpus is touched ONCE (word-count agg); every round after
    that is vocabulary-sized: explode ~avg_word_len x |vocab| pair
    rows, one shuffle, a 1-row broadcast. Rounds are inherently
    sequential — that is BPE's definition, not a plan defect."""
    from project_2_semantic_similarity_spark.operators.text import (
        bpe_train_rounds)

    words = _word_counts(load_table(spark, sf_dir, "documents"))
    learned, _ = bpe_train_rounds(words, _BPE_TRAIN_ROUNDS)
    out = None
    for r, best in enumerate(learned, start=1):
        row = best.select(
            F.lit(r).cast("long").alias("rank"),
            F.col("a").alias("left_sym"),
            F.col("b").alias("right_sym"),
            F.col("pair_cnt").cast("long").alias("pair_cnt"))
        out = row if out is None else out.unionAll(row)
    return out


_BPE_BATCH_ROUNDS = 3   # declared-query scale: 3 rounds ...
_BPE_BATCH = 4          # ... of up to 4 disjoint merges each


def _bpe_train_batched_oracle(R: int = _BPE_BATCH_ROUNDS,
                              m: int = _BPE_BATCH) -> str:
    """Unrolled R-round re-derivation of the BATCHED trainer. Per
    round: the candidate list is the top 4*m pairs (same counts and
    (cnt DESC, a, b) order as the sequential trainer), the greedy
    symbol-disjoint selection is a bounded RECURSIVE CTE over that
    16-row list (state = chosen structs + used symbols — the one
    driver-side step of the Spark operator, re-derived in SQL), and
    the batch applies with the same rank-stepping single-replace
    machinery as every other BPE oracle (brank advances only when
    the current pattern is absent — fold == rank-step equivalence,
    valid in any order within a batch because chosen pairs share no
    symbol)."""
    parts = [_BPE_WORDS_SEG1]
    for r in range(1, R + 1):
        src = "seg1" if r == 1 else f"segb{r}"
        parts.append(f""",
candb{r} AS MATERIALIZED (
    SELECT a, b, pair_cnt,
           CAST(row_number() OVER (ORDER BY pair_cnt DESC, a, b)
                AS BIGINT) AS i
    FROM (
        SELECT pr[1] AS a, pr[2] AS b,
               CAST(sum(cnt) AS BIGINT) AS pair_cnt
        FROM (
            SELECT cnt,
                   unnest(list_transform(range(len(l) - 1),
                                         i -> [l[i + 1], l[i + 2]]))
                       AS pr
            FROM (SELECT cnt, string_split(trim(s, ' '), ' ') AS l
                  FROM {src})
        ) GROUP BY pr[1], pr[2]
    )
    ORDER BY pair_cnt DESC, a, b LIMIT {4 * m}
),
greedyb{r} AS (
    SELECT CAST(0 AS BIGINT) AS i,
           CAST([] AS STRUCT(a VARCHAR, b VARCHAR, cnt BIGINT)[])
               AS chosen,
           CAST([] AS VARCHAR[]) AS used
    UNION ALL
    SELECT g.i + 1,
           CASE WHEN len(g.chosen) < {m}
                     AND NOT list_contains(g.used, c.a)
                     AND NOT list_contains(g.used, c.b)
                     AND NOT list_contains(g.used, c.a || c.b)
                THEN list_append(g.chosen,
                                 {{'a': c.a, 'b': c.b,
                                   'cnt': c.pair_cnt}})
                ELSE g.chosen END,
           CASE WHEN len(g.chosen) < {m}
                     AND NOT list_contains(g.used, c.a)
                     AND NOT list_contains(g.used, c.b)
                     AND NOT list_contains(g.used, c.a || c.b)
                THEN g.used || [c.a, c.b, c.a || c.b]
                ELSE g.used END
    FROM greedyb{r} g JOIN candb{r} c ON c.i = g.i + 1
),
batchb{r} AS MATERIALIZED (
    SELECT t.chosen[k.k].a AS a, t.chosen[k.k].b AS b,
           t.chosen[k.k].cnt AS pair_cnt,
           CAST(k.k AS BIGINT) AS brank,
           ' ' || t.chosen[k.k].a || ' ' || t.chosen[k.k].b || ' '
               AS pat,
           ' ' || t.chosen[k.k].a || t.chosen[k.k].b || ' ' AS rep
    FROM (SELECT chosen FROM greedyb{r}
          ORDER BY i DESC LIMIT 1) t,
         unnest(generate_series(1, len(t.chosen))) AS k(k)
),
appb{r} AS (
    SELECT word, cnt, CAST(1 AS BIGINT) AS brank, s FROM {src}
    UNION ALL
    SELECT x.word, x.cnt,
           CASE WHEN strpos(x.s, mm.pat) > 0 THEN x.brank
                ELSE x.brank + 1 END,
           CASE WHEN strpos(x.s, mm.pat) > 0
                THEN substr(x.s, 1, strpos(x.s, mm.pat) - 1) || mm.rep
                     || substr(x.s, strpos(x.s, mm.pat)
                               + length(mm.pat))
                ELSE x.s END
    FROM appb{r} x JOIN batchb{r} mm ON mm.brank = x.brank
),
segb{r + 1} AS MATERIALIZED (
    SELECT word, cnt, s FROM appb{r}
    WHERE brank = (SELECT max(brank) + 1 FROM batchb{r})
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT {r} AS rnd, brank, a, b, pair_cnt FROM batchb{r}"
        for r in range(1, R + 1))
    parts.append(f"""
SELECT CAST(row_number() OVER (ORDER BY rnd, brank) AS BIGINT)
           AS rank,
       a AS left_sym, b AS right_sym, pair_cnt
FROM ({union})""")
    return "WITH RECURSIVE " + "".join(parts)


@query("text_bpe_train_batched", oracle=_bpe_train_batched_oracle())
def text_bpe_train_batched(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """BATCHED BPE TRAINER — the parallel-BPE
    compromise real large-scale tokenizers use: per round, the top
    4 SYMBOL-DISJOINT pairs by count are learned and applied
    together, so merge throughput is batch-width per round instead
    of 1 (probed at 2M docs: 0.051-0.056 s/merge batched vs 0.47
    sequential — 9x; SCALE.md 'Batched trainer'). SEMANTIC
    DIFFERENCE vs text_bpe_train, declared honestly: sequential BPE
    re-counts after every merge, so a pair involving a freshly
    created symbol can outrank the batch's remaining picks — batched
    BPE defers such pairs to the next round. Within a round the
    disjointness makes counts exact and application order-free
    (fusing (a,b) cannot touch occurrences of a symbol-disjoint
    (c,d)).

    Plan per round (operators/text.py bpe_train_batched): the
    trainer's vocabulary-sized pair explode + hash agg, TakeOrdered
    (16) — a 16-row driver list from which the greedy disjoint
    filter picks (the only driver-side step, bounded by 4*batch
    rows) — then ONE fold pass applying the whole batch,
    localCheckpointed. The oracle re-derives the greedy selection
    itself as a bounded recursive CTE, so even the tie-break order
    of the candidate list is hash-gated."""
    from project_2_semantic_similarity_spark.operators.text import (
        bpe_train_batched)

    words = _word_counts(load_table(spark, sf_dir, "documents"))
    rounds = bpe_train_batched(
        words, _BPE_BATCH_ROUNDS * _BPE_BATCH, batch=_BPE_BATCH,
        max_rounds=_BPE_BATCH_ROUNDS)
    rows = []
    rank = 0
    for rnd in rounds:
        for a, b, cnt in rnd:
            rank += 1
            rows.append((rank, a, b, cnt))
    return local_frame(
        spark, rows, "rank long, left_sym string, right_sym string, "
                     "pair_cnt long")


@query(
    "text_bpe_vocab",
    oracle=f"""
WITH RECURSIVE {_bpe_oracle_ctes()},
freq AS (
    SELECT u.tok AS token, CAST(sum(w.cnt) AS BIGINT) AS freq
    FROM words w JOIN tokenized t USING (word),
         unnest(t.tokens) AS u(tok)
    GROUP BY u.tok
)
SELECT token, token_id, freq FROM (
    SELECT token,
           CAST(row_number() OVER (ORDER BY freq DESC, token) + 3
                AS BIGINT) AS token_id,
           freq
    FROM freq
    UNION ALL
    SELECT t.tok, CAST(t.i AS BIGINT), CAST(0 AS BIGINT)
    FROM (VALUES ('<pad>', 0), ('<unk>', 1),
                 ('<bos>', 2), ('<eos>', 3)) AS t(tok, i)
)
""",
)
def text_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-ID table — the tokenizer-pipeline step between apply
    and pack: tokenize the corpus vocabulary (32-merge table),
    weight each subword's frequency by corpus word counts, and
    assign contiguous ids by (freq DESC, token) after 4 reserved
    specials (<pad> 0, <unk> 1, <bos> 2, <eos> 3) — the layout every
    embedding matrix and shard writer consumes.

    The id assignment is a GLOBAL rank — the single-partition-window
    trap — so it rides with_global_rank (operators/rank.py: range
    partitions + broadcast per-partition offsets, the
    running_sum_probe-pinned machinery). Token frequencies come from
    the same vocabulary-tokenize + gated-vocab-join plan
    (operators/text.py vocab_join: measured-count broadcast under
    the bound, AQE-decided past it) as
    text_bpe_tokenize: the corpus is touched once; everything after
    is vocabulary- then token-sized. The word counts AND the
    tokenized vocabulary are persisted slots before the rank
    machinery consumes them: with_global_rank's range exchange reads
    its input twice (boundary sampling + the shuffle), and an
    un-materialized upstream would re-run the corpus explode and
    re-expand the 32-lambda fold tree per branch (measured 40 s in
    the sf0.1 sweep before staging; ~2 s after)."""
    freq = _token_freq(_corpus_word_counts(spark, sf_dir),
                       _corpus_bpe_vocab(spark, sf_dir))
    specials = local_frame(
        spark, [("<pad>", 0), ("<unk>", 1), ("<bos>", 2), ("<eos>", 3)],
        "token string, token_id long").select(
        "token", "token_id", F.lit(0).cast("long").alias("freq"))
    return _token_ids(freq).unionAll(specials)


def _encode_ids_tail(words_cte: str = "words") -> str:
    """The shared encode/pack oracle chain, valid AFTER a
    ``tokenized`` (word, tokens) CTE exists: token ids by weighted
    frequency rank, per-doc subword counts + global doc offsets, and
    the per-doc ordered token stream. Reused VERBATIM by
    text_bpe_encode_ids, corpus_context_window_ids and
    corpus_to_training_batches (only the final SELECT differs), so
    the stage declarations cannot drift. ``words_cte`` must expose
    (doc_id, word, cnt)."""
    return f""",
freq AS (
    SELECT u.tok AS token, CAST(sum(w.cnt) AS BIGINT) AS freq
    FROM {words_cte} w JOIN tokenized t USING (word),
         unnest(t.tokens) AS u(tok)
    GROUP BY u.tok
),
ids AS (
    SELECT token,
           CAST(row_number() OVER (ORDER BY freq DESC, token) + 3
                AS BIGINT) AS token_id
    FROM freq
),
nbpe AS (
    SELECT w.doc_id,
           CAST(sum(w.cnt * len(t.tokens)) AS BIGINT) AS n_bpe
    FROM {words_cte} w JOIN tokenized t USING (word)
    GROUP BY w.doc_id
),
offs AS (
    SELECT doc_id,
           CAST(sum(n_bpe) OVER (ORDER BY doc_id) - n_bpe AS BIGINT)
               AS strt
    FROM nbpe
),
wp AS (
    SELECT doc_id, unnest(l) AS word,
           unnest(range(len(l))) AS widx
    FROM (SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS l
          FROM documents)
),
j AS (
    SELECT wp.doc_id, wp.widx, t.tokens, len(t.tokens) AS n_tok
    FROM wp JOIN tokenized t USING (word)
),
off AS (
    SELECT doc_id, tokens,
           coalesce(sum(n_tok) OVER (
               PARTITION BY doc_id ORDER BY widx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS o
    FROM j
),
tok AS (
    SELECT doc_id,
           CAST(o + unnest(range(len(tokens))) AS BIGINT) AS pos,
           unnest(tokens) AS token
    FROM off
)"""


@query(
    "text_bpe_encode_ids",
    oracle=f"""
WITH RECURSIVE {_bpe_oracle_ctes()}{_encode_ids_tail()}
SELECT t.doc_id, t.pos, v.token_id
FROM tok t JOIN ids v USING (token)
""",
)
def text_bpe_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS ENCODE — the capstone of the tokenizer pipeline: every
    document as its ordered subword-id sequence, one row per
    (doc_id, pos, token_id), which is exactly what
    corpus_pack_context_windows' arithmetic slices into training
    batches. Token ids are text_bpe_vocab's (freq DESC, token) order
    + 4 reserved specials.

    The scale design exploits that each document is ONE ROW before
    any explode, with a STRATEGY GATE on the distinct-word count
    (operators/text.py bpe_encode_corpus, a ``cache.gate`` on
    BPE_BROADCAST_VOCAB_MAX): while the word -> id-sequence map fits
    driver/broadcast reach it is collected and broadcast once and the
    encode is a ZERO-SHUFFLE Arrow `mapInPandas` over the documents scan; past
    the bound — Heaps' law puts a 100 TB crawl's raw distinct words
    at 10^8-10^9, far beyond any broadcast — the gate switches to
    bpe_encode_docs_join, where the map stays a DataFrame and rides
    an AQE-decided join plus a per-doc offset window (bounded by
    document length, embarrassingly parallel across docs). Both
    strategies are twin-pinned hash-equal (tests/test_text.py,
    including OOV -> <unk>). The remaining shuffles on the broadcast
    path are the vocabulary builds: corpus word counts (map-side
    combined to |vocab|) and the token-frequency rank
    (with_global_rank's range machinery), both over persisted
    inputs — un-materialized, the rank exchange's double read
    (boundary sample + shuffle) re-runs the corpus explode and
    re-expands the fold tree per branch (the first draft burned 30
    cores for minutes at 2M docs on exactly that)."""
    from project_2_semantic_similarity_spark.operators.text import (
        bpe_encode_corpus)

    docs = load_table(spark, sf_dir, "documents")
    vocab = _corpus_bpe_vocab(spark, sf_dir)
    ids = _token_ids(_token_freq(_corpus_word_counts(spark, sf_dir), vocab))
    # unk never fires here (the vocabulary IS this corpus's), but the
    # OOV -> <unk> path is the real serving behavior — driver-oracled
    # on a held-out corpus in text_bpe_encode_holdout
    return bpe_encode_corpus(docs, vocab, ids, unk_id=1)


_VOCAB_CURVE_SIZES = (8, 16, 32, 64)


@query(
    "text_bpe_vocab_coverage",
    oracle=f"""
WITH RECURSIVE {_bpe_oracle_ctes()},
freq AS (
    SELECT u.tok AS token, CAST(sum(w.cnt) AS BIGINT) AS freq
    FROM words w JOIN tokenized t USING (word),
         unnest(t.tokens) AS u(tok)
    GROUP BY u.tok
),
ranked AS (
    SELECT freq,
           CAST(row_number() OVER (ORDER BY freq DESC, token)
                AS BIGINT) AS rn
    FROM freq
),
tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM freq)
SELECT CAST(k.k AS BIGINT) AS vocab_size,
       CAST(sum(CASE WHEN r.rn <= k.k THEN r.freq ELSE 0 END)
            AS BIGINT) AS covered,
       round(sum(CASE WHEN r.rn <= k.k THEN r.freq ELSE 0 END)
             * 1.0 / t.total, 6) AS coverage
FROM ranked r
CROSS JOIN tot t,
     unnest({list(_VOCAB_CURVE_SIZES)}) AS k(k)
GROUP BY k.k, t.total
""",
)
def text_bpe_vocab_coverage(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """VOCABULARY COVERAGE CURVE — the analysis a tokenizer team runs
    to pick vocabulary size: for each candidate size k, the fraction
    of all corpus subword occurrences covered by the k most frequent
    tokens (text_bpe_vocab's (freq DESC, token) order). Everything
    past the knee of this curve encodes to <unk> or falls back to
    characters, so the curve IS the truncation-cost function.

    Plan: token-sized end-to-end after the one corpus word-count agg
    — frequencies from the vocabulary-tokenize + gated-vocab-join
    plan, the global rank on with_global_rank's range machinery, then
    a bounded crossJoin against the 4-row size list and one
    token-sized aggregation, which also sums the total (every size
    group sees every token). Nothing here grows with corpus size
    except the first aggregation's input."""
    ids = _token_ids(_token_freq(_corpus_word_counts(spark, sf_dir),
                                 _corpus_bpe_vocab(spark, sf_dir)))
    sizes = local_frame(spark, [(k,) for k in _VOCAB_CURVE_SIZES],
                        "vocab_size long")
    # the k most frequent tokens hold ids 4 .. k + 3
    top_k = F.col("token_id") <= F.col("vocab_size") + 3
    return (ids.crossJoin(F.broadcast(sizes))
            .groupBy("vocab_size")
            .agg(F.sum(F.when(top_k, F.col("freq")).otherwise(0))
                  .cast("long").alias("covered"),
                 F.sum("freq").alias("total"))
            .select("vocab_size", "covered",
                    F.round(F.col("covered") / F.col("total"), 6)
                     .alias("coverage")))


@query(
    "text_bpe_encode_holdout",
    oracle=f"""
WITH RECURSIVE {_bpe_oracle_ctes(
    "(SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0)")},
freq AS (
    SELECT u.tok AS token, CAST(sum(w.cnt) AS BIGINT) AS freq
    FROM words w JOIN tokenized t USING (word),
         unnest(t.tokens) AS u(tok)
    GROUP BY u.tok
),
ids AS (
    SELECT token,
           CAST(row_number() OVER (ORDER BY freq DESC, token) + 3
                AS BIGINT) AS token_id
    FROM freq
),
hold AS (
    SELECT doc_id,
           text || ' xq' || CAST(doc_id % 7 AS VARCHAR) || 'z' AS text
    FROM documents WHERE doc_id % 10 = 0
),
wp AS (
    SELECT doc_id, unnest(l) AS word,
           unnest(range(len(l))) AS widx
    FROM (SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS l
          FROM hold)
),
j AS (
    SELECT wp.doc_id, wp.widx,
           coalesce(t.tokens, [chr(0) || '<oov>']) AS tokens
    FROM wp LEFT JOIN tokenized t USING (word)
),
off AS (
    SELECT doc_id, tokens,
           coalesce(sum(len(tokens)) OVER (
               PARTITION BY doc_id ORDER BY widx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS o
    FROM j
),
tok AS (
    SELECT doc_id,
           CAST(o + unnest(range(len(tokens))) AS BIGINT) AS pos,
           unnest(tokens) AS token
    FROM off
)
SELECT t.doc_id, t.pos,
       CAST(coalesce(v.token_id, 1) AS BIGINT) AS token_id
FROM tok t LEFT JOIN ids v USING (token)
""",
)
def text_bpe_encode_holdout(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """OOV SERVING, driver-oracled end-to-end: the
    vocabulary and token ids are built from the TRAIN split
    (doc_id % 10 != 0) only, then the HOLDOUT split (doc_id % 10 ==
    0) — decorated with one engineered OOV word per doc
    ('xq<doc_id%7>z', plus whatever naturally-unseen words the
    holdout carries) — is encoded against it. Every
    vocabulary-absent word must land exactly one <unk> (id 1) at its
    position; the oracle re-derives those slots independently
    (LEFT-join token chain + coalesce to 1), so the serving path
    that text_bpe_encode_ids can never exercise (its vocabulary IS
    its corpus) gets the same hash gate as everything else.

    Plan: identical shape to text_bpe_encode_ids — the strategy gate
    picks the zero-shuffle Arrow encode at this vocabulary size; the
    word/vocab/rank builds run on the train split only, with the
    train words and vocabulary in their own tl_holdout_* slots."""
    from project_2_semantic_similarity_spark.operators.text import (
        bpe_encode_corpus)

    docs = load_table(spark, sf_dir, "documents")
    hold = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" xq"),
                 (F.col("doc_id") % 7).cast("string"),
                 F.lit("z")).alias("text"))
    words, vocab = _words_and_vocab(
        "tl_holdout", sf_dir, docs.filter(F.col("doc_id") % 10 != 0))
    ids = _token_ids(_token_freq(words, vocab))
    return bpe_encode_corpus(hold, vocab, ids, unk_id=1)


@query(
    "corpus_context_window_ids",
    oracle=f"""
WITH RECURSIVE {_bpe_oracle_ctes()}{_encode_ids_tail()}
SELECT CAST((f.strt + t.pos) // {_CTX_WINDOW} AS BIGINT) AS window_id,
       CAST((f.strt + t.pos) % {_CTX_WINDOW} AS BIGINT) AS window_pos,
       v.token_id
FROM tok t
JOIN offs f USING (doc_id)
JOIN ids v USING (token)
""",
)
def corpus_context_window_ids(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """THE TRAINING BATCH, materialized: every corpus subword id at
    its exact (window_id, window_pos) slot in the packed 512-token
    context windows — the relation a training loader reads row-group
    by row-group. Closes the tokenizer pipeline loop:
    text_bpe_train/vocab define ids, text_bpe_encode_ids orders them
    per doc, corpus_pack_context_windows' arithmetic places docs in
    the global stream, and this query composes the two coordinate
    systems (global doc offset + within-doc position).

    Plan: per-doc SUBWORD counts come from the vocabulary-sized
    tokenize plan (never the encoded relation); their global running
    sum rides with_global_running_sum's range machinery (doc-sized,
    persisted input per the fold-staging rule); the encoded
    relation (zero-shuffle Arrow stage) joins the doc-offset table on
    doc_id — left unhinted so AQE broadcasts the doc-sized side
    while it fits and shuffle-joins at 100 TB, where regrouping
    corpus tokens by window requires that one shuffle no matter the
    formulation. (window_id, window_pos) is a total order — the
    driver hash is order-insensitive but uniqueness makes the
    relation a well-defined batch layout.

    Executor sizing: at the 2M-doc probe this query's offsets-join
    hash aggregation needed ~1.5 GiB execution memory PER TASK at
    width 32 (RowBasedKeyValueBatch exhaustion below 48 GiB total in
    the single-JVM local probe) — on a real cluster that is ordinary
    per-executor sizing, see SCALE.md 'corpus_context_window_ids'."""
    return _place_in_windows(text_bpe_encode_ids(spark, sf_dir),
                             _doc_offsets(_doc_nbpe(spark, sf_dir)))


@query(
    "corpus_context_window_ids_sep",
    oracle=f"""
WITH RECURSIVE {_bpe_oracle_ctes()}{_encode_ids_tail()},
offs_sep AS (
    SELECT doc_id,
           CAST(sum(n_bpe + 1) OVER (ORDER BY doc_id) - (n_bpe + 1)
                AS BIGINT) AS strt
    FROM nbpe
),
stream AS (
    SELECT t.doc_id, t.pos, v.token_id
    FROM tok t JOIN ids v USING (token)
    UNION ALL
    SELECT doc_id, n_bpe AS pos, CAST(3 AS BIGINT) AS token_id
    FROM nbpe
)
SELECT CAST((f.strt + u.pos) // {_CTX_WINDOW} AS BIGINT) AS window_id,
       CAST((f.strt + u.pos) % {_CTX_WINDOW} AS BIGINT) AS window_pos,
       u.token_id
FROM stream u JOIN offs_sep f USING (doc_id)
""",
)
def corpus_context_window_ids_sep(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """corpus_context_window_ids with DOCUMENT SEPARATORS — the
    layout real pretraining loaders consume: each document's subword
    stream ends with one <eos> (reserved id 3) before the next
    document begins, so a model can learn document boundaries and a
    loader can split loss masks on them. Documents with no tokens
    contribute nothing (no lone separators), matching the plain
    variant's empty-doc behavior.

    Plan: the zero-shuffle/gated encode relation unioned with one
    doc-sized separator row per document (built from the same
    vocabulary-sized subword-count relation as the offsets — no new
    corpus pass), doc offsets advanced by n_bpe + 1 through the same
    range running-sum machinery; the one data-sized join stays the
    AQE-decided stream⋈offsets."""
    nbpe = _doc_nbpe(spark, sf_dir)
    sep = nbpe.select(
        "doc_id", F.col("n_bpe").cast("long").alias("pos"),
        F.lit(3).cast("long").alias("token_id"))
    stream = text_bpe_encode_ids(spark, sf_dir).unionByName(sep)
    offs = _doc_offsets(nbpe.withColumn("n_tot", F.col("n_bpe") + 1),
                        "n_tot")
    return _place_in_windows(stream, offs)


@query(
    "corpus_window_doc_starts",
    oracle=f"""
WITH RECURSIVE {_bpe_oracle_ctes()}{_encode_ids_tail()}
SELECT CAST(strt // {_CTX_WINDOW} AS BIGINT) AS window_id,
       CAST(strt % {_CTX_WINDOW} AS BIGINT) AS window_pos,
       doc_id
FROM offs
""",
)
def corpus_window_doc_starts(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """THE ATTENTION RESET MASK for packed training batches: the
    (window_id, window_pos) slot where each document's first subword
    lands in corpus_context_window_ids' coordinate system. Trainers
    that pack sequences need exactly this relation to build
    block-diagonal attention masks (and position-id resets) so
    tokens cannot attend across document boundaries within a window.

    Plan: doc-sized only — the vocabulary-sized subword-count agg +
    the range running-sum offsets; the corpus-token-sized encode
    relation is never touched. At 100 TB this emits one row per
    document from an already-range-partitioned relation."""
    return _doc_offsets(_doc_nbpe(spark, sf_dir)).select(
        *_window_slot(F.col("strt")), "doc_id")


@query(
    "corpus_to_training_batches",
    oracle=f"""
WITH RECURSIVE {_bpe_train_ctes()},
dwords AS MATERIALIZED (
    SELECT doc_id, w AS word, CAST(count(*) AS BIGINT) AS cnt
    FROM documents,
         unnest(list_filter(string_split(text, ' '), x -> x <> ''))
             AS t(w)
    GROUP BY doc_id, w
),
tokenized AS MATERIALIZED (
    SELECT word,
           list_filter(string_split(trim(s, ' '), ' '), x -> x <> '')
               AS tokens
    FROM seg{_BPE_TRAIN_ROUNDS + 1}
){_encode_ids_tail("dwords")}
SELECT CAST((f.strt + t.pos) // {_CTX_WINDOW} AS BIGINT) AS window_id,
       CAST((f.strt + t.pos) % {_CTX_WINDOW} AS BIGINT) AS window_pos,
       v.token_id
FROM tok t
JOIN offs f USING (doc_id)
JOIN ids v USING (token)
""",
)
def corpus_to_training_batches(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """THE TOKENIZER PIPELINE AS ONE QUERY — the
    integration a pretraining-data team runs daily: learn the merge
    table FROM the corpus (text_bpe_train's 10 argmax rounds),
    assign token ids by weighted frequency (text_bpe_vocab's order),
    encode every document (text_bpe_encode_ids's gate), and place
    every subword id at its (window_id, window_pos) slot in the
    packed 512-token context windows (corpus_context_window_ids's
    arithmetic). Unlike those stages — which apply the FIXED
    32-merge BPE_MERGES table — this pipeline's segmentation is the
    trainer's own output, so a drift between trainer and applier
    breaks the hash. The stages share code, not copies: the trainer
    loop is operators/text.py bpe_train_rounds (text_bpe_train's),
    the encode is bpe_encode_corpus (text_bpe_encode_ids's gate),
    and the oracle composes _bpe_train_ctes + _encode_ids_tail
    VERBATIM, so a stage declaration cannot drift from its
    standalone query.

    Plan: the corpus parquet is scanned once per stage family — one
    scan feeds the per-doc word counts (the persisted tl_docwords
    slot; the trainer, the id rank, and the doc-offset table all read
    it), one scan feeds the zero-shuffle Arrow encode — and
    the only data-sized shuffle beyond the word-count agg is the
    AQE-decided encode⋈offsets join (pinned in
    tests/test_plan_shape.py). The trainer's per-round work is
    vocabulary-sized; rounds are sequential by BPE's definition."""
    from project_2_semantic_similarity_spark.operators.text import (
        bpe_encode_corpus, bpe_train_rounds)

    dwords = _doc_word_counts(spark, sf_dir)
    # the trainer's final segmentation IS the trained tokenized
    # vocabulary — no re-application pass. The 10 sequential rounds
    # are an eager checkpoint-per-round loop fully determined by the
    # word counts, so the TRAINED vocab rides its own persisted slot
    # (the standalone text_bpe_train keeps its per-execution loop —
    # its merge rows ARE its result).
    vocab = keyed_persist(
        "tl_trained_vocab", _doc_src_key(sf_dir),
        lambda: bpe_train_rounds(
            _corpus_word_counts(spark, sf_dir),
            _BPE_TRAIN_ROUNDS)[1].select(
            "word", F.col("syms").alias("tokens"),
            F.size("syms").alias("n_tok")))
    ids = _token_ids(_token_freq(dwords, vocab))
    enc = bpe_encode_corpus(load_table(spark, sf_dir, "documents"),
                            vocab, ids, unk_id=1)
    return _place_in_windows(
        enc, _doc_offsets(_subword_counts(vocab_join(dwords, vocab))))


# ---------------------------------------------------------------------------
# Byte-level BPE — the production-tokenizer variant:
# operate on UTF-8 BYTES via the GPT-2 byte-to-unicode table
# (operators/text.py gpt2_byte_unicode), so the base alphabet is closed
# (every byte has a symbol) and <unk> is unreachable by construction.
# The char-level machinery (bpe_train_rounds, bpe_segment,
# bpe_encode_corpus) runs UNCHANGED — bytes are just a different
# initial alphabet, produced by mapping each word's UTF-8 bytes to
# printable chars before the ordinary char split. Every declared doc
# is decorated with one engineered NON-ASCII word (' xé<doc_id%7>'),
# so the multi-byte split path is exercised and oracled at the driver,
# not only in tests.

_BYTE_DECOR_DOCS = ("(SELECT doc_id, text || ' xé' || "
                    "CAST(doc_id % 7 AS VARCHAR) AS text FROM documents)")


def _byte_decorated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text) with the engineered non-ASCII word appended
    (the Spark side of _BYTE_DECOR_DOCS)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" xé"),
                 (F.col("doc_id") % 7).cast("string")).alias("text"))


def _byte_cp_case_sql(b: str) -> str:
    """byte value expression -> GPT-2 mapped codepoint (closed form:
    printables identity; 0-32 -> 256..288; 127-160 -> 289..322;
    173 -> 323). Twin of the operators/text.py map literal — pinned
    equal over all 256 bytes in tests."""
    return (f"CASE WHEN ({b} BETWEEN 33 AND 126) "
            f"OR ({b} BETWEEN 161 AND 172) "
            f"OR ({b} BETWEEN 174 AND 255) THEN {b} "
            f"WHEN {b} <= 32 THEN 256 + {b} "
            f"WHEN {b} = 173 THEN 323 "
            f"ELSE 289 + ({b} - 127) END")


def _byte_syms_sql(word: str, sep: str) -> str:
    """SQL: the GPT-2-mapped byte symbols of ``word``, joined by
    ``sep`` (' ' for segmentation seeds, '' for mapped words)."""
    b = (f"CAST('0x' || substr(hex(encode({word})), "
         f"CAST(i*2+1 AS INT), 2) AS INTEGER)")
    return (f"array_to_string(list_transform("
            f"range(CAST(octet_length(encode({word})) AS INT)), "
            f"i -> chr(CAST({_byte_cp_case_sql(b)} AS INT))), '{sep}')")


_BPE_WORDS_SEG1_BYTES = f"""words AS MATERIALIZED (
    SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
    FROM {_BYTE_DECOR_DOCS},
         unnest(list_filter(string_split(text, ' '), x -> x <> ''))
             AS t(w)
    GROUP BY w
),
seg1 AS MATERIALIZED (
    SELECT word, cnt,
           ' ' || {_byte_syms_sql('word', ' ')} || ' ' AS s
    FROM words
)"""


@query("text_bpe_train_bytes",
       oracle=_bpe_train_oracle(seed_sql=_BPE_WORDS_SEG1_BYTES))
def text_bpe_train_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-LEVEL BPE TRAINER — text_bpe_train with the byte-split
    seed: each word's UTF-8 bytes are mapped through the GPT-2
    byte-to-unicode table (operators/text.py gpt2_byte_unicode) and
    the UNCHANGED trainer loop (bpe_train_rounds — same argmax, same
    (count DESC, left, right) tie-break) learns merges over byte
    symbols. On an all-ASCII corpus the learned table equals the
    char-level trainer's (printable bytes map to themselves —
    twin-pinned in tests); on the decorated non-ASCII words it
    merges MAPPED BYTE symbols ('Ã','©'), which a char-level trainer
    can never see. The oracle re-derives the full chain from the
    byte seed (seg1 swapped, rounds verbatim).

    Scale shape unchanged from text_bpe_train: the corpus is touched
    once (word-count agg); the byte mapping runs on the
    VOCABULARY-sized relation (injective per byte, so mapping after
    the count agg is exact); every round after is vocabulary-sized."""
    from project_2_semantic_similarity_spark.operators.text import (
        bpe_train_rounds, byte_unicode_word)

    words = _word_counts(_byte_decorated_docs(spark, sf_dir)).select(
        byte_unicode_word(F.col("word")).alias("word"), "cnt")
    learned, _ = bpe_train_rounds(words, _BPE_TRAIN_ROUNDS)
    out = None
    for r, best in enumerate(learned, start=1):
        row = best.select(
            F.lit(r).cast("long").alias("rank"),
            F.col("a").alias("left_sym"),
            F.col("b").alias("right_sym"),
            F.col("pair_cnt").cast("long").alias("pair_cnt"))
        out = row if out is None else out.unionAll(row)
    return out


def _byte_merge_ids_sql() -> str:
    """VALUES rows (token, token_id) for the 32 static merge outputs
    under the deterministic byte-level id scheme: 4 specials + 256
    base bytes, then merges by rank (operators/text.py
    byte_bpe_ids — one source of truth via BPE_MERGES)."""
    from project_2_semantic_similarity_spark.operators.text import (
        BPE_MERGES)

    return ", ".join(f"('{a}{b}', {259 + r})"
                     for r, (a, b) in enumerate(BPE_MERGES, start=1))


@query(
    "text_bpe_encode_bytes",
    oracle=f"""
WITH RECURSIVE mapped AS MATERIALIZED (
    SELECT doc_id,
           array_to_string(list_transform(
               list_filter(string_split(text, ' '), x -> x <> ''),
               w -> {_byte_syms_sql('w', '')}), ' ') AS text
    FROM {_BYTE_DECOR_DOCS}
),
{_bpe_oracle_ctes("mapped")},
mids(token, token_id) AS (VALUES {_byte_merge_ids_sql()}),
wp AS (
    SELECT doc_id, unnest(l) AS word,
           unnest(range(len(l))) AS widx
    FROM (SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS l
          FROM mapped)
),
j AS (
    SELECT wp.doc_id, wp.widx, t.tokens, len(t.tokens) AS n_tok
    FROM wp JOIN tokenized t USING (word)
),
off AS (
    SELECT doc_id, tokens,
           coalesce(sum(n_tok) OVER (
               PARTITION BY doc_id ORDER BY widx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS o
    FROM j
),
tok AS (
    SELECT doc_id,
           CAST(o + unnest(range(len(tokens))) AS BIGINT) AS pos,
           unnest(tokens) AS token
    FROM off
)
SELECT t.doc_id, t.pos,
       CAST(coalesce(m.token_id,
                     4 + CASE WHEN unicode(t.token) <= 255
                              THEN unicode(t.token)
                              WHEN unicode(t.token) <= 288
                              THEN unicode(t.token) - 256
                              WHEN unicode(t.token) <= 322
                              THEN unicode(t.token) - 289 + 127
                              ELSE 173 END) AS BIGINT) AS token_id
FROM tok t LEFT JOIN mids m USING (token)
""",
)
def text_bpe_encode_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-LEVEL CORPUS ENCODE — the no-<unk> twin of
    text_bpe_encode_ids: words become GPT-2-mapped byte symbols
    (byte_unicode_docs, a narrow zero-shuffle projection), the
    static 32-merge table applies over the byte alphabet
    (bpe_word_tokens unchanged — char split of the mapped word IS
    the byte split), and ids come from the DETERMINISTIC scheme
    (byte_bpe_ids: 4 specials + every base byte at 4+b + merge
    outputs at 260+rank-1). Because every byte symbol has an id
    whether or not the corpus ever produced it, the id join can
    never miss — the engineered non-ASCII word (' xé<doc_id%7>',
    bytes C3 A9 unseen anywhere else) encodes to real byte ids, not
    <unk>, which is the property byte-level tokenizers exist for
    (unk_id=1 is passed but unreachable; pinned in tests).

    Plan: identical to text_bpe_encode_ids after the mapping
    projection — strategy-gated encode (zero-shuffle Arrow under
    the distinct-word bound, windowed join past it), unhinted
    vocab joins, vocabulary-sized fold, with the mapped words and
    their vocabulary in the tl_bytes_* slots."""
    from project_2_semantic_similarity_spark.operators.text import (
        bpe_encode_corpus, byte_bpe_ids, byte_unicode_docs)

    mapped = byte_unicode_docs(_byte_decorated_docs(spark, sf_dir))
    _, vocab = _words_and_vocab("tl_bytes", sf_dir, mapped)
    return bpe_encode_corpus(mapped, vocab, byte_bpe_ids(spark), unk_id=1)


@query(
    "corpus_shuffle_windows",
    oracle=f"""
WITH RECURSIVE {_bpe_oracle_ctes()},
nbpe AS (
    SELECT w.doc_id,
           CAST(sum(w.cnt * len(t.tokens)) AS BIGINT) AS n_bpe
    FROM words w JOIN tokenized t USING (word)
    GROUP BY w.doc_id
),
offs AS (
    SELECT doc_id, n_bpe,
           CAST(sum(n_bpe) OVER (ORDER BY doc_id) - n_bpe AS BIGINT)
               AS strt
    FROM nbpe
),
wins AS (
    SELECT DISTINCT CAST(unnest(range(strt // {_CTX_WINDOW},
                                      (strt + n_bpe - 1)
                                          // {_CTX_WINDOW} + 1))
                         AS BIGINT) AS window_id
    FROM offs
)
SELECT CAST(row_number() OVER (
           ORDER BY md5('win_shuffle:' || CAST(window_id AS VARCHAR)),
                    window_id) - 1 AS BIGINT) AS shuffled_pos,
       window_id
FROM wins
""",
)
def corpus_shuffle_windows(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """DETERMINISTIC TRAINING-ORDER SHUFFLE — the
    last step between corpus_context_window_ids' packed windows and
    a real loader: a reproducible permutation of the window ids,
    emitted as (shuffled_pos, window_id). RNG-free md5 rank (the
    sample_hash_split discipline): order by
    md5('win_shuffle:' || window_id) — partitioning-immune, identical
    on any cluster, re-derivable by the oracle as a row_number.

    Scale shape: the window-id SET is derived from the DOC-sized
    offsets relation (each doc explodes only the windows it spans —
    bounded by doc_len/512 — then a distinct collapses shared
    boundary windows), never from the corpus-token-sized encode; the
    global rank rides with_global_rank's range machinery instead of
    a single-partition window. At 100 TB: doc-sized explode,
    window-sized distinct + rank."""
    offs = _doc_offsets(_doc_nbpe(spark, sf_dir))
    wins = (offs.select(F.explode(F.sequence(
        F.floor(F.col("strt") / _CTX_WINDOW),
        F.floor((F.col("strt") + F.col("n_bpe") - 1) / _CTX_WINDOW)))
        .alias("window_id")).distinct())
    hashed = wins.withColumn(
        "h", F.md5(F.concat(F.lit("win_shuffle:"),
                            F.col("window_id").cast("string"))))
    ranked = with_global_rank(
        hashed, [F.col("h").asc(), F.col("window_id").asc()],
        rank_col="rn")
    return ranked.select(
        (F.col("rn") - 1).cast("long").alias("shuffled_pos"),
        F.col("window_id").cast("long").alias("window_id"))


def _wordpiece_case_sql() -> str:
    """Greedy longest-match as ONE static CASE chain over the
    merge-output inventory (longest first — operators/text.py
    wordpiece_merge_outputs, single source of truth). No correlated
    subquery: the inventory is merge-bounded and known at SQL-gen
    time, so 'the longest token matching at this position' compiles
    to 32 ordered WHENs with the single-char fallback as ELSE."""
    from project_2_semantic_similarity_spark.operators.text import (
        wordpiece_merge_outputs)

    whens = " ".join(
        f"WHEN substr(rest, 1, {len(t)}) = '{t}' THEN '{t}'"
        for t in wordpiece_merge_outputs())
    return f"CASE {whens} ELSE substr(rest, 1, 1) END"


@query(
    "text_wordpiece_tokenize",
    oracle=f"""
WITH RECURSIVE
words AS (
    SELECT doc_id, w AS word, count(*) AS cnt
    FROM documents,
         unnest(list_filter(string_split(text, ' '), x -> x <> ''))
             AS t(w)
    GROUP BY doc_id, w
),
dw AS (SELECT DISTINCT word FROM words),
seg AS (
    SELECT word, word AS rest, CAST([] AS VARCHAR[]) AS toks FROM dw
    UNION ALL
    SELECT word, substr(rest, length(best) + 1),
           list_append(toks, best)
    FROM (SELECT word, rest, toks, {_wordpiece_case_sql()} AS best
          FROM seg WHERE rest <> '')
),
tokenized AS (SELECT word, toks AS tokens FROM seg WHERE rest = ''),
sums AS (
    SELECT w.doc_id,
           CAST(sum(w.cnt) AS BIGINT) AS n_words,
           CAST(sum(w.cnt * len(t.tokens)) AS BIGINT) AS n_wp_tokens
    FROM words w JOIN tokenized t USING (word)
    GROUP BY w.doc_id
),
dcounts AS (
    SELECT doc_id, CAST(count(DISTINCT u.x) AS BIGINT)
               AS n_distinct_tokens
    FROM words w
    JOIN tokenized t USING (word), unnest(t.tokens) AS u(x)
    GROUP BY doc_id
)
SELECT s.doc_id, s.n_words, s.n_wp_tokens, d.n_distinct_tokens,
       round(s.n_wp_tokens * 1.0 / s.n_words, 6) AS tokens_per_word
FROM sums s JOIN dcounts d USING (doc_id)
""",
)
def text_wordpiece_tokenize(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """GREEDY LONGEST-MATCH tokenization — the OTHER subword
    algorithm family (WordPiece/SentencePiece inference, BERT-style)
    beside rank-ordered BPE merge application: at each position take
    the longest merge-output token that matches, falling back to the
    single char (so segmentation never fails — the inventory is
    merge-bounded + implicit chars, corpus-free). Demonstrably a
    DIFFERENT segmentation than text_bpe_tokenize on some words
    (pinned in tests): greedy grabs the longest surface string even
    when the merge order could never have built it there.

    Scale shape is text_bpe_tokenize's verbatim: one shuffle to
    per-doc word counts, a vocabulary distinct, the greedy matcher
    as an Arrow mapInPandas over the DISTINCT-WORD relation
    (operators/text.py wordpiece_word_tokens — Python cost per
    vocabulary entry, never per corpus token; broadcast payload is
    the 32-string inventory), and one AQE-decided unhinted join
    back. The DuckDB oracle re-derives greedy matching as a
    recursive CTE whose step is a static longest-first CASE chain —
    provably the same decision procedure."""
    from project_2_semantic_similarity_spark.operators.text import (
        wordpiece_word_tokens)

    words = _word_counts(load_table(spark, sf_dir, "documents"), "doc_id")
    vocab = wordpiece_word_tokens(words.select("word").distinct())
    return _fertility(words.join(vocab, "word"), "n_wp_tokens")


@query(
    "text_bpe_decode",
    oracle=f"""
WITH RECURSIVE mapped AS MATERIALIZED (
    SELECT doc_id,
           substr(array_to_string(list_transform(
               list_filter(string_split(text, ' '), x -> x <> ''),
               w -> chr(288) || {_byte_syms_sql('w', '')}), ' '), 2)
               AS text
    FROM {_BYTE_DECOR_DOCS}
),
{_bpe_oracle_ctes("mapped")},
nbpe AS (
    SELECT w.doc_id, CAST(sum(w.cnt * len(t.tokens)) AS BIGINT)
               AS n_ids
    FROM words w JOIN tokenized t USING (word)
    GROUP BY w.doc_id
)
SELECT d.doc_id,
       array_to_string(list_filter(string_split(d.text, ' '),
                                   x -> x <> ''), ' ') AS decoded_text,
       n.n_ids
FROM {_BYTE_DECOR_DOCS} d JOIN nbpe n USING (doc_id)
""",
)
def text_bpe_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECODE / DETOKENIZE — the tokenizer API's missing inverse:
    encode the corpus byte-level WITH the GPT-2 space marker
    (operators/text.py byte_unicode_docs_marked — every non-first
    word carries a leading 'Ġ' = mapped byte 32, so whitespace
    lives IN the id stream like production byte-level tokenizers),
    then decode the flat (doc_id, pos, token_id) stream back to
    text with pure JVM expressions (bpe_decode_ids: broadcast the
    merge-bounded id table, ONE per-doc hash agg, array_sort by
    pos, concat, closed-form inverse byte map, unhex, UTF-8).

    The oracle is the ROUNDTRIP IDENTITY: the decoded text must
    hash-equal the single-space-normalized source (computed by the
    oracle WITHOUT running encode/decode), and n_ids must equal the
    independently re-derived token count — so a bug anywhere in the
    encode -> id -> decode chain (segmentation, id scheme, stream
    order, the byte map or its closed-form inverse, multi-byte
    UTF-8 reassembly — the ' xé<doc_id%7>' decoration exercises
    2-byte sequences) breaks the hash. Decode cannot cheat by
    copying the input: it only sees the id stream (corruption test
    pinned in tests/test_text.py).

    At 100 TB: encode is the strategy-gated zero-shuffle/windowed
    plan unchanged; decode adds exactly one doc_id shuffle with
    per-doc-bounded state — the id->token broadcast is 288+32 rows
    at ANY corpus size (merge-bounded, never Heaps'-law-sized)."""
    from project_2_semantic_similarity_spark.operators.text import (
        bpe_decode_ids, bpe_encode_corpus, byte_bpe_ids,
        byte_unicode_docs_marked)

    marked = byte_unicode_docs_marked(_byte_decorated_docs(spark, sf_dir))
    # the marked words and their vocabulary live in the tl_bytedec_*
    # slots: their word source is the byte-mapped, decorated text, so
    # they cannot share tl_docwords/tl_vocab
    _, vocab = _words_and_vocab("tl_bytedec", sf_dir, marked)
    ids = byte_bpe_ids(spark)
    stream = bpe_encode_corpus(marked, vocab, ids, unk_id=1)
    return bpe_decode_ids(stream, ids)


@query(
    "text_unigram_tokenize",
    oracle=f"""
WITH RECURSIVE {_bpe_oracle_ctes()},
freq AS (
    SELECT u.x AS piece, CAST(sum(w.cnt) AS BIGINT) AS f
    FROM words w JOIN tokenized t USING (word),
         unnest(t.tokens) AS u(x)
    GROUP BY u.x
),
tot AS (SELECT CAST(sum(f) AS DOUBLE) AS total FROM freq),
cost AS (
    SELECT piece,
           CAST(-floor(1000000.0 * ln(f / total)) AS BIGINT) AS c
    FROM freq, tot
),
unkc AS (SELECT max(c) + 1000000 AS cu FROM cost),
chars AS (
    SELECT DISTINCT substr(word, CAST(i + 1 AS INT), 1) AS ch
    FROM vocab, unnest(range(length(word))) AS r(i)
),
pieces AS (
    SELECT piece, c FROM cost
    UNION ALL
    SELECT ch, cu FROM chars, unkc
    WHERE ch NOT IN (SELECT piece FROM cost)
),
paths AS (
    SELECT word, word AS rest, CAST(0 AS BIGINT) AS tc,
           0 AS ntok, '' AS path
    FROM vocab
    UNION ALL
    SELECT p.word, substr(p.rest, length(pc.piece) + 1),
           p.tc + pc.c, p.ntok + 1, p.path || chr(31) || pc.piece
    FROM paths p JOIN pieces pc
      ON substr(p.rest, 1, length(pc.piece)) = pc.piece
    WHERE p.rest <> ''
),
best AS (
    SELECT word, tc, ntok, path,
           row_number() OVER (PARTITION BY word
                              ORDER BY tc, ntok, path) AS rn
    FROM paths WHERE rest = ''
),
seg AS (
    SELECT word, tc, ntok,
           list_filter(string_split(path, chr(31)), x -> x <> '')
               AS tokens
    FROM best WHERE rn = 1
),
sums AS (
    SELECT w.doc_id,
           CAST(sum(w.cnt) AS BIGINT) AS n_words,
           CAST(sum(w.cnt * s.ntok) AS BIGINT) AS n_uni_tokens,
           CAST(sum(w.cnt * s.tc) AS BIGINT) AS nll_micro_nats
    FROM words w JOIN seg s USING (word)
    GROUP BY w.doc_id
),
dcounts AS (
    SELECT doc_id, CAST(count(DISTINCT u.x) AS BIGINT)
               AS n_distinct_tokens
    FROM words w JOIN seg s USING (word), unnest(s.tokens) AS u(x)
    GROUP BY doc_id
)
SELECT s.doc_id, s.n_words, s.n_uni_tokens, d.n_distinct_tokens,
       round(s.n_uni_tokens * 1.0 / s.n_words, 6) AS tokens_per_word,
       s.nll_micro_nats
FROM sums s JOIN dcounts d USING (doc_id)
""",
)
def text_unigram_tokenize(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """UNIGRAM-LM tokenization (Kudo 2018, the SentencePiece
    algorithm) — the THIRD subword family beside rank-ordered BPE
    and greedy WordPiece: each word takes the segmentation with the
    best total unigram score over a piece inventory. The model here
    is one EM half-step of Kudo's trainer: the BPE seed segmentation
    estimates piece frequencies (the M-step over a fixed
    segmentation), then every word is Viterbi-RE-segmented under
    those probabilities (the E-step) — which is exactly the
    inference pass a trained SentencePiece model runs. Per-doc
    output adds nll_micro_nats, the document's total unigram
    negative log-likelihood — a quality signal for free.

    Determinism across engines is bought by INTEGER costs:
    -floor(1e6·ln p) micro-nats, so the DP compares integers and
    ties break by (cost, token count, path string) — a total order
    with no float ambiguity (the 1e6·ln grid margin is pinned in
    tests). Scale shape is the tokenizer family's standard: one
    shuffle to per-doc word counts, piece costs from a
    merge+alphabet-BOUNDED relation (collected + broadcast — never
    Heaps'-law-sized, unlike the word vocabulary), the Viterbi DP as
    an Arrow mapInPandas over DISTINCT words
    (operators/text.py unigram_word_tokens), one unhinted
    AQE-decided join back. The oracle re-derives the DP by
    exhaustive path enumeration + the same total order — exact
    because the pieces and costs are identical relations."""
    import math

    from project_2_semantic_similarity_spark.operators.cache import (
        keyed_value)
    from project_2_semantic_similarity_spark.operators.text import (
        unigram_word_tokens)

    # the per-doc word counts (tl_docwords), the bounded piece-cost
    # collect and the Viterbi re-segmentation of the distinct
    # vocabulary are all determined by the source snapshot, so each
    # is a slot under the snapshot key
    key = _doc_src_key(sf_dir)
    words = _doc_word_counts(spark, sf_dir)
    dw = words.select("word").distinct()

    def piece_costs() -> tuple[dict, int]:
        seed = bpe_word_tokens(dw)
        pf = (words.join(seed, "word")
              .select(F.explode("tokens").alias("piece"), "cnt")
              .groupBy("piece").agg(F.sum("cnt").alias("f")))
        # piece inventory is merge-bounded + alphabet-bounded (≤ 32
        # merge outputs + single chars) — a BOUNDED collect, the
        # byte_bpe_ids discipline, never the Heaps'-law vocabulary
        rows = pf.collect()
        total = float(sum(r.f for r in rows))
        c = {r.piece: int(-math.floor(1e6 * math.log(r.f / total)))
             for r in rows}
        return c, max(c.values()) + 1_000_000

    costs, unk_cost = keyed_value("uni_costs", key, piece_costs)
    uni = keyed_persist(
        "uni_segmented", key,
        lambda: unigram_word_tokens(dw, costs, unk_cost))
    return _fertility(
        words.join(uni, "word"), "n_uni_tokens",
        F.sum(F.col("cnt") * F.col("w_cost")).alias("nll_micro_nats"))


# ------------------------------------------- Unigram-LM TRAINING (EM)

# The SentencePiece trainer knobs (Kudo 2018 §4; kudo/sentencepiece
# unigram_model_trainer.cc): the seed inventory is the SEED_K most
# frequent substrings (the --seed_sentencepiece_size knob — the cap
# is WHY the trainer scales: the substring relation is Heaps'-law ×
# fan-out, the kept seed is a constant), pieces longer than
# SEED_MAX_LEN never enter, and pruning keeps the VOCAB_K best
# multi-char pieces (single characters are never pruned, Kudo's
# coverage guarantee). Module constants so the Spark plan, the
# DuckDB oracle and the tests read the same numbers.
UNI_SEED_MAX_LEN = 4
UNI_SEED_K = 48
UNI_VOCAB_K = 24


def _uni_paths_sql(tag: str, cost_rel: str) -> str:
    """One exhaustive-enumeration Viterbi re-derivation (the
    text_unigram_tokenize oracle's paths/best/seg chain) over a given
    piece-cost relation — emitted twice by the trainer oracle, once
    per EM round."""
    return f"""
paths{tag} AS (
    SELECT word, word AS rest, CAST(0 AS BIGINT) AS tc,
           0 AS ntok, '' AS path
    FROM vocab
    UNION ALL
    SELECT p.word, substr(p.rest, length(c.piece) + 1),
           p.tc + c.c, p.ntok + 1, p.path || chr(31) || c.piece
    FROM paths{tag} p JOIN {cost_rel} c
      ON substr(p.rest, 1, length(c.piece)) = c.piece
    WHERE p.rest <> ''
),
best{tag} AS (
    SELECT word, path,
           row_number() OVER (PARTITION BY word
                              ORDER BY tc, ntok, path) AS rn
    FROM paths{tag} WHERE rest = ''
),
seg{tag} AS (
    SELECT word,
           list_filter(string_split(path, chr(31)), x -> x <> '')
               AS tokens
    FROM best{tag} WHERE rn = 1
)"""


@query(
    "text_unigram_train",
    oracle=f"""
WITH RECURSIVE
words AS (
    SELECT doc_id, w AS word, count(*) AS cnt
    FROM documents,
         unnest(list_filter(string_split(text, ' '), x -> x <> ''))
             AS t(w)
    GROUP BY doc_id, w
),
vocab AS (SELECT DISTINCT word FROM words),
wf AS (
    SELECT word, CAST(sum(cnt) AS BIGINT) AS wf
    FROM words GROUP BY word
),
subs AS (
    SELECT substr(w.word, CAST(s.s AS INT), CAST(l.pl AS INT)) AS piece,
           w.wf
    FROM wf w,
         unnest(range(1, least({UNI_SEED_MAX_LEN},
                                length(w.word)) + 1)) AS l(pl),
         unnest(range(1, length(w.word) - CAST(l.pl AS INT) + 2)) AS s(s)
),
seedf AS (
    SELECT piece, CAST(sum(wf) AS BIGINT) AS f
    FROM subs GROUP BY piece
),
chars AS (SELECT piece, f FROM seedf WHERE length(piece) = 1),
seed1 AS (
    SELECT piece, f FROM chars
    UNION ALL
    SELECT piece, f FROM (
        SELECT piece, f,
               row_number() OVER (ORDER BY f DESC, piece) AS rn
        FROM seedf WHERE length(piece) > 1)
    WHERE rn <= {UNI_SEED_K}
),
tot1 AS (SELECT CAST(sum(f) AS DOUBLE) AS t FROM seed1),
cost1 AS (
    SELECT piece,
           CAST(-floor(1000000.0 * ln(f / t)) AS BIGINT) AS c
    FROM seed1, tot1
),
{_uni_paths_sql('1', 'cost1')},
f2 AS (
    SELECT u.x AS piece, CAST(sum(w.wf) AS BIGINT) AS f2
    FROM wf w JOIN seg1 s USING (word), unnest(s.tokens) AS u(x)
    GROUP BY u.x
),
kept AS (
    SELECT c.piece, coalesce(f.f2, 0) + 1 AS fs, 1 AS is_char
    FROM chars c LEFT JOIN f2 f USING (piece)
    UNION ALL
    SELECT piece, f2 + 1 AS fs, 0 AS is_char FROM (
        SELECT piece, f2,
               row_number() OVER (ORDER BY f2 DESC, piece) AS rn
        FROM f2 WHERE length(piece) > 1)
    WHERE rn <= {UNI_VOCAB_K}
),
tot2 AS (SELECT CAST(sum(fs) AS DOUBLE) AS t FROM kept),
cost2 AS (
    SELECT piece, is_char,
           CAST(-floor(1000000.0 * ln(fs / t)) AS BIGINT) AS c
    FROM kept, tot2
),
{_uni_paths_sql('2', 'cost2')},
ff AS (
    SELECT u.x AS piece, CAST(sum(w.wf) AS BIGINT) AS f
    FROM wf w JOIN seg2 s USING (word), unnest(s.tokens) AS u(x)
    GROUP BY u.x
)
SELECT k.piece, CAST(k.is_char AS INT) AS is_char,
       coalesce(ff.f, 0) AS freq,
       k.c AS cost_micro_nats,
       CAST(row_number() OVER (ORDER BY coalesce(ff.f, 0) DESC,
                               k.piece) AS BIGINT) AS vocab_rank
FROM cost2 k LEFT JOIN ff USING (piece)
""",
)
def text_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIGRAM-LM tokenizer TRAINING (Kudo 2018 §4, the SentencePiece
    EM trainer) — completes the subword family: where
    text_unigram_tokenize runs inference under a fixed model, this
    trains one: seed the piece inventory with the UNI_SEED_K most
    frequent substrings (+ every single character), run one full EM
    round (E: Viterbi-segment every word under current costs, M:
    recount piece frequencies from the chosen segmentations), prune
    to the UNI_VOCAB_K best multi-char pieces (characters are never
    pruned — Kudo's coverage guarantee), and emit the final vocab
    with add-one-smoothed integer micro-nat costs and a second
    E-step's usage counts.

    Determinism: integer micro-nat costs (-floor(1e6·ln p)) make both
    Viterbi passes exact in both engines (the text_unigram_tokenize
    discipline); tie-breaks are (cost, token count, path), a total
    order; top-K boundaries order by (freq DESC, piece) — total.

    100 TB shape: the substring relation is Heaps'-law-sized × ~20
    fan-out, so the seed selection runs DISTRIBUTED as
    orderBy+limit (TakeOrderedAndProject — per-partition top-K then
    a K-row merge on the driver, never a single-partition window),
    and only the K-bounded winners are ever collected (the
    --seed_sentencepiece_size discipline; the collect is O(K), not
    O(vocabulary)). Both E-steps are one Arrow mapInPandas over
    DISTINCT words each; both M-step recounts are map-side-combinable
    hash aggs; the output is VOCAB_K-bounded, so its rank window is
    over a constant-size relation."""
    import math

    from project_2_semantic_similarity_spark.operators.text import (
        unigram_word_tokens)

    docs = load_table(spark, sf_dir, "documents")
    words = (docs
             .select("doc_id",
                     F.explode(F.split(F.col("text"), " ")).alias("word"))
             .filter(F.col("word") != "")
             .groupBy("doc_id", "word").agg(F.count("*").alias("cnt")))
    wf = (words.groupBy("word").agg(F.sum("cnt").alias("wf"))
          ).localCheckpoint()
    dw = wf.select("word")

    # seed inventory: every substring occurrence up to UNI_SEED_MAX_LEN,
    # weighted by corpus word frequency (matches the oracle's double
    # unnest — repeated substrings inside one word count per occurrence)
    subs = wf.select(
        "wf",
        F.explode(F.expr(
            f"flatten(transform("
            f"  sequence(1, least({UNI_SEED_MAX_LEN}, length(word))),"
            f"  pl -> transform(sequence(1, length(word) - pl + 1),"
            f"        st -> substring(word, st, pl))))")).alias("piece"))
    seedf = subs.groupBy("piece").agg(F.sum("wf").alias("f"))
    chars_rows = seedf.filter(F.length("piece") == 1).collect()
    top_multi = (seedf.filter(F.length("piece") > 1)
                 .orderBy(F.desc("f"), F.asc("piece"))
                 .limit(UNI_SEED_K).collect())

    def micro_nat_costs(pairs):  # [(piece, freq)] -> integer costs
        total = float(sum(f for _, f in pairs))
        return {p: int(-math.floor(1e6 * math.log(f / total)))
                for p, f in pairs}

    seed_pairs = ([(r.piece, r.f) for r in chars_rows]
                  + [(r.piece, r.f) for r in top_multi])
    costs1 = micro_nat_costs(seed_pairs)
    unk1 = max(costs1.values()) + 1_000_000

    # EM round: E-step Viterbi under seed costs, M-step recount
    seg1 = unigram_word_tokens(dw, costs1, unk1)
    f2 = (wf.join(seg1, "word")
          .select("wf", F.explode("tokens").alias("piece"))
          .groupBy("piece").agg(F.sum("wf").alias("f2"))
          ).localCheckpoint()
    kept_multi = (f2.filter(F.length("piece") > 1)
                  .orderBy(F.desc("f2"), F.asc("piece"))
                  .limit(UNI_VOCAB_K).collect())
    char_f2 = {r.piece: r.f2 for r in
               f2.filter(F.length("piece") == 1).collect()}
    kept_pairs = ([(r.piece, char_f2.get(r.piece, 0) + 1, 1)
                   for r in chars_rows]
                  + [(r.piece, r.f2 + 1, 0) for r in kept_multi])
    costs2 = micro_nat_costs([(p, fs) for p, fs, _ in kept_pairs])
    unk2 = max(costs2.values()) + 1_000_000

    # final E-step under the pruned model: usage counts for the report
    seg2 = unigram_word_tokens(dw, costs2, unk2)
    ff = (wf.join(seg2, "word")
          .select("wf", F.explode("tokens").alias("piece"))
          .groupBy("piece").agg(F.sum("wf").alias("f")))
    out = local_frame(
        spark,
        [(p, ic, costs2[p]) for p, _fs, ic in kept_pairs],
        "piece string, is_char int, cost_micro_nats long")
    # VOCAB_K-bounded relation: the global window is over ≤ K + |alphabet|
    # rows by construction, never data-sized
    w = Window.orderBy(F.desc("freq"), F.asc("piece"))
    return (out.join(ff, "piece", "left")
            .select("piece", "is_char",
                    F.coalesce(F.col("f"), F.lit(0)).cast("long")
                     .alias("freq"),
                    "cost_micro_nats")
            .withColumn("vocab_rank", F.row_number().over(w).cast("long")))
