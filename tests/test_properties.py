"""Property-based tests (SURVEY.md §5.2.3) for the TF-IDF flagship
invariants, on small random corpora via hypothesis:

- a term occurring in every document has idf = log10(1) = 0, so all
  its tf-idf weights are exactly 0 and it never appears as a
  similarity candidate;
- cosine similarities are bounded by 1 (up to float error);
- permuting document order changes nothing (the plan has no
  order-dependent state).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from project_2_semantic_similarity_spark.operators.text import (
    similar_terms,
    term_index,
    tfidf,
)

VOCAB = [f"w{i}" for i in range(8)]

corpus_strategy = st.lists(
    st.lists(st.sampled_from(VOCAB), min_size=2, max_size=12),
    min_size=3, max_size=8,
)

_SETTINGS = settings(max_examples=8, deadline=None,
                     suppress_health_check=[HealthCheck.too_slow])


def _corpus_df(spark, docs):
    return spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        ["doc_id", "text"])


@_SETTINGS
@given(docs=corpus_strategy)
def test_ubiquitous_term_has_zero_tfidf(spark, docs):
    everywhere = VOCAB[0]
    docs = [toks + [everywhere] for toks in docs]
    w = tfidf(_corpus_df(spark, docs)).collect()
    assert all(r.tfidf == 0.0 for r in w if r.term == everywhere)
    # and therefore it can never surface as a similarity candidate
    sims = similar_terms(
        term_index(_corpus_df(spark, docs)), VOCAB[1], k=100).collect()
    assert everywhere not in {r.term for r in sims}


@_SETTINGS
@given(docs=corpus_strategy)
def test_similarity_bounded_by_one(spark, docs):
    w = term_index(_corpus_df(spark, docs))
    sims = similar_terms(w, docs[0][0], k=100).collect()
    assert all(r.similarity <= 1.0 + 1e-9 for r in sims)


@_SETTINGS
@given(docs=corpus_strategy, seed=st.integers(0, 2**16))
def test_document_order_irrelevant(spark, docs, seed):
    import random
    shuffled = docs[:]
    random.Random(seed).shuffle(shuffled)
    # doc_ids follow their document (permutation relabels rows only
    # if we kept positional ids, so reattach original ids first)
    base = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    perm = base[:]
    random.Random(seed).shuffle(perm)
    df1 = spark.createDataFrame(base, ["doc_id", "text"])
    df2 = spark.createDataFrame(perm, ["doc_id", "text"])
    q = docs[0][0]
    r1 = [(r.term, round(r.similarity, 9))
          for r in similar_terms(term_index(df1), q, k=50)
          .orderBy("term").collect()]
    r2 = [(r.term, round(r.similarity, 9))
          for r in similar_terms(term_index(df2), q, k=50)
          .orderBy("term").collect()]
    assert r1 == r2


# words over a small alphabet so BPE_MERGES actually fire, plus OOV
# candidates the vocabulary may not contain
_enc_word = st.text(alphabet="abcde", min_size=1, max_size=8)
encode_corpus_strategy = st.lists(
    st.lists(_enc_word, min_size=0, max_size=10),
    min_size=2, max_size=6)


@_SETTINGS
@given(train=encode_corpus_strategy, serve=encode_corpus_strategy)
def test_encode_strategy_twins_property(spark, train, serve):
    """PROPERTY pin for the encode strategy gate: on ANY corpus pair
    (vocabulary trained on one, serving encode on the other — so OOV
    fires arbitrarily), the broadcast and join strategies emit the
    identical (doc_id, pos, token_id) relation."""
    from project_2_semantic_similarity_spark.operators.text import (
        bpe_encode_corpus, bpe_encode_docs_join, bpe_word_tokens)

    train_words = sorted({w for d in train for w in d})
    if not train_words:
        train_words = ["a"]
    vocab = bpe_word_tokens(
        spark.createDataFrame([(w,) for w in train_words], ["word"]))
    toks = sorted({t for r in vocab.collect() for t in r["tokens"]})
    ids = spark.createDataFrame(
        [(t, i + 4) for i, t in enumerate(toks)], ["token", "token_id"])
    docs = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(serve)],
        ["doc_id", "text"])
    # a test vocab is far under BPE_BROADCAST_VOCAB_MAX, so the gate
    # takes the broadcast encoder; the join branch is called directly
    a = sorted(map(tuple, bpe_encode_corpus(
        docs, vocab, ids, unk_id=1).collect()))
    b = sorted(map(tuple, bpe_encode_docs_join(
        docs, vocab, ids, unk_id=1).collect()))
    assert a == b


# arbitrary unicode text (hypothesis excludes surrogates by default);
# newlines/tabs are word-INTERNAL bytes here (only ' ' separates),
# and multi-byte UTF-8 up to 4 bytes (astral plane) must survive the
# byte map -> segment -> id -> decode chain byte-for-byte
unicode_docs_strategy = st.lists(
    st.text(min_size=0, max_size=40),
    min_size=1, max_size=5,
)


@_SETTINGS
@given(docs=unicode_docs_strategy)
def test_bpe_decode_roundtrip_property(spark, docs):
    """encode(Ġ-marked byte-level) -> decode is the IDENTITY on
    single-space-normalized text for ARBITRARY unicode input — the
    closed byte alphabet means no corpus can fall outside the
    tokenizer, and decode must reassemble multi-byte UTF-8 exactly."""
    from project_2_semantic_similarity_spark.operators.text import (
        bpe_decode_ids, bpe_encode_corpus, bpe_word_tokens,
        byte_bpe_ids, byte_unicode_docs_marked)

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    marked = byte_unicode_docs_marked(df)
    words = (marked.select(
        F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word").agg(F.count("*").alias("cnt")))
    vocab = bpe_word_tokens(words.select("word").distinct())
    ids = byte_bpe_ids(spark)
    stream = bpe_encode_corpus(marked, vocab, ids, unk_id=1)
    got = {r.doc_id: r.decoded_text
           for r in bpe_decode_ids(stream, ids).collect()}
    for i, t in rows:
        want = " ".join(w for w in t.split(" ") if w)
        if want == "":
            # no words -> no id rows -> no decode row, by contract
            assert i not in got
        else:
            assert got[i] == want, (repr(t), repr(got[i]), repr(want))
