"""Unit tests for the TF-IDF / similarity core on tiny literal
corpora with hand-computed expectations (SURVEY.md §5.2.5), plus the
reference-semantics edge cases (§2.A contract)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from project_2_semantic_similarity_spark.operators import text as T
from project_2_semantic_similarity_spark.sources import read_text_corpus


def mini_corpus(spark):
    # 3 docs; hand-checkable. doc lengths: d1=3, d2=2, d3=2. N=3.
    rows = [
        ("d1", "apple banana apple"),
        ("d2", "banana cherry"),
        ("d3", "apple cherry"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def tfidf_map(df):
    return {(r["doc_id"], r["term"]): r["tfidf"] for r in df.collect()}


def test_tokenize_positions(spark):
    out = T.tokenize(mini_corpus(spark)).collect()
    assert ("d1", 0, "apple") in [(r.doc_id, r.pos, r.term) for r in out]
    assert ("d1", 2, "apple") in [(r.doc_id, r.pos, r.term) for r in out]
    assert len(out) == 7


def test_term_counts(spark):
    out = T.term_counts(T.tokenize(mini_corpus(spark)))
    m = {(r.doc_id, r.term): r.tf_count for r in out.collect()}
    assert m[("d1", "apple")] == 2
    assert m[("d1", "banana")] == 1
    assert len(m) == 6


def test_tfidf_hand_computed(spark):
    m = tfidf_map(T.tfidf(mini_corpus(spark)))
    # apple: df=2 -> idf=log10(3/2); d1 tf=2/3
    assert m[("d1", "apple")] == pytest.approx((2 / 3) * math.log10(3 / 2))
    # banana in d2: tf=1/2, df=2
    assert m[("d2", "banana")] == pytest.approx(0.5 * math.log10(1.5))
    # term in every doc would get idf=0 (none here; add one)
    rows = [("a", "x y"), ("b", "x z"), ("c", "x w")]
    m2 = tfidf_map(T.tfidf(spark.createDataFrame(rows, ["doc_id", "text"])))
    assert m2[("a", "x")] == pytest.approx(0.0)


def test_similarity_identical_vectors(spark):
    # t1 and t2 co-occur identically -> cosine 1; t3 appears alone.
    rows = [
        ("d1", "t1 t2 filler1"),
        ("d2", "t1 t2 filler2"),
        ("d3", "t3 filler3 filler4"),
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    out = T.term_similarity_pipeline(corpus, "t1", k=10)
    sims = {r.term: r.similarity for r in out.collect()}
    assert sims["t2"] == pytest.approx(1.0)
    assert "t3" not in sims  # orthogonal -> numerator 0 -> dropped
    assert "t1" not in sims  # self-excluded


def test_query_absent_returns_empty(spark):
    # Reference div-by-zeros here (app.py:178); we return empty.
    out = T.term_similarity_pipeline(mini_corpus(spark), "nosuchterm")
    assert out.count() == 0


def test_zero_idf_query_returns_empty(spark):
    # Query term in every doc -> all-zero vector -> norm 0 -> empty.
    rows = [("a", "x y"), ("b", "x z")]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    out = T.term_similarity_pipeline(corpus, "x")
    assert out.count() == 0


def test_pattern_filter_after_tfidf(spark):
    # Filter applies post-tfidf: df/N from full corpus (app.py:145).
    rows = [
        ("d1", "gene_a_gene other gene_b_gene"),
        ("d2", "gene_a_gene other"),
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    weights = T.filter_term_pattern(T.tfidf(corpus), "gene_", "_gene")
    terms = {r.term for r in weights.collect()}
    assert terms == {"gene_a_gene", "gene_b_gene"}
    m = tfidf_map(weights)
    # gene_b_gene: tf=1/3 in d1, df=1, N=2 (unfiltered N)
    assert m[("d1", "gene_b_gene")] == pytest.approx((1 / 3) * math.log10(2))


def test_read_text_corpus(spark, tmp_path):
    p = tmp_path / "corpus.txt"
    p.write_text("doc1 apple banana\ndoc2 cherry\n\ndoc3 dates  figs\n")
    df = read_text_corpus(spark, str(p))
    rows = {r.doc_id: r.text for r in df.collect()}
    assert rows == {"doc1": "apple banana", "doc2": "cherry",
                    "doc3": "dates  figs"}
    toks = T.tokenize(df)
    assert toks.filter(F.col("doc_id") == "doc3").count() == 2


def test_read_text_corpus_ascii_matches_reference_semantics(spark, tmp_path):
    """ascii_normalize must equal the reference's per-line
    ``line.encode('ascii','ignore')`` (app.py:124) — applied to the
    RAW line, before the id/body split, so a non-ASCII id strips too
    and fully non-ASCII tokens vanish."""
    lines = [
        "doc1é naïve café apple",      # accents inside id and tokens
        "doc2 Ωµ≠ banana",             # fully non-ASCII token drops
        "δδδ only_nonascii_id",        # id strips to empty -> id='only_nonascii_id'
    ]
    p = tmp_path / "corpus.txt"
    p.write_text("\n".join(lines) + "\n", encoding="utf-8")
    df = read_text_corpus(spark, str(p), ascii_normalize=True)
    got = {r.doc_id: r.text for r in df.collect()}
    want = {}
    for line in lines:
        stripped = line.encode("ascii", "ignore").decode().strip()
        parts = stripped.split(None, 1)
        want[parts[0]] = parts[1] if len(parts) > 1 else ""
    assert got == want
    assert got["doc1"] == "nave caf apple"
    assert "banana" in got["doc2"] and "Ω" not in got["doc2"]


def test_flagship_on_testdata(spark, sf_dir):
    import __spark_entry__ as e
    out = e.queries()["flagship_term_similarity"](spark, sf_dir)
    rows = out.collect()
    assert 0 < len(rows) <= 5
    sims = [r.similarity for r in rows]
    assert sims == sorted(sims, reverse=True)
    assert all(0 < s <= 1.0 + 1e-9 for s in sims)


def _docsim_plan(docs):
    return (T.doc_similarity_topk(docs, k=10, round_to=6)
            ._jdf.queryExecution().executedPlan().toString())


def test_doc_similarity_strategies_agree(spark, sf_dir, monkeypatch):
    """The dense (small-vocab vector) and sparse (term self-join)
    physical strategies must produce identical top-k doc pairs. The
    fixture's vocab fits DENSE_VOCAB_MAX; a zero bound forces
    sparse."""
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select(F.col("doc_id").cast("string").alias("doc_id"), "text"))
    assert "MapInPandas" in _docsim_plan(docs)  # the dense block gemm
    dense = T.doc_similarity_topk(docs, k=10, round_to=6).collect()
    monkeypatch.setattr(T, "DENSE_VOCAB_MAX", 0)
    assert "MapInPandas" not in _docsim_plan(docs)
    sparse = T.doc_similarity_topk(docs, k=10, round_to=6).collect()
    assert [tuple(r) for r in dense] == [tuple(r) for r in sparse]
    assert len(dense) == 10


def test_doc_similarity_auto_guards_doc_count(spark, sf_dir, monkeypatch):
    """The gate must refuse the dense (broadcast-NLJ) strategy past
    the doc-count bound even when the vocab fits — forcing the bound
    to 1 doc here must route through the sparse term self-join with
    identical results (vocab alone doesn't cap the broadcast's
    n_docs × |V| size)."""
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select(F.col("doc_id").cast("string").alias("doc_id"), "text"))
    with monkeypatch.context() as m:
        m.setattr(T, "DENSE_VOCAB_MAX", 0)
        sparse = T.doc_similarity_topk(docs, k=10, round_to=6).collect()
    monkeypatch.setattr(T, "DENSE_DOCS_MAX", 1)
    guarded = T.doc_similarity_topk(docs, k=10, round_to=6).collect()
    assert [tuple(r) for r in guarded] == [tuple(r) for r in sparse]
    # and the guarded plan must not contain the PAIR broadcast-NLJ
    # the dense strategy plans (its doc_a < doc_b condition); NLJs of
    # 1-row scalar aggregates (the n_docs attach) are fine
    plan = _docsim_plan(docs)
    import re as _re
    pair_nlj = [ln for ln in plan.splitlines()
                if "BroadcastNestedLoopJoin" in ln
                and _re.search(r"doc_a#\d+ < doc_b#\d+", ln)]
    assert not pair_nlj, pair_nlj


def test_doc_similarity_ann_recall_vs_exact(spark, sf_dir, monkeypatch):
    """ANN prefilter (minhash-LSH candidates + exact re-rank) must
    recover ≥80% of the exact top-k pairs, and agree on the cosine of
    every pair it does return (the re-rank is exact — false negatives
    only, never wrong values)."""
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select(F.col("doc_id").cast("string").alias("doc_id"), "text"))
    exact = {(r.doc_a, r.doc_b): r.similarity
             for r in T.doc_similarity_topk(docs, k=10, round_to=6)
             .collect()}
    ann = {(r.doc_a, r.doc_b): r.similarity
           for r in T.doc_similarity_topk_ann(docs, k=10, round_to=6)
           .collect()}
    common = set(exact) & set(ann)
    assert len(common) >= 0.8 * len(exact) > 0
    for pair in common:
        assert abs(exact[pair] - ann[pair]) < 1e-9
    # the sparse (map-probe) re-rank must agree with the dense
    # (zip_with) fast path pair-for-pair
    monkeypatch.setattr(T, "DENSE_VOCAB_MAX", 0)
    sparse = {(r.doc_a, r.doc_b): r.similarity
              for r in T.doc_similarity_topk_ann(
                  docs, k=10, round_to=6).collect()}
    assert sparse == ann


def test_hot_query_matches_oracle_without_broadcast(spark):
    """A stopword-like query term (df = n_docs - 1 here; df = n_docs
    would make idf and hence the whole query vector zero) is answered
    exactly, and its O(df) query vector is never broadcast: it joins
    the doc_id-partitioned index partition by partition."""
    from test_golden_reference import py_oracle
    from test_plan_shape import _jnode_count

    rows = [(f"d{i}", f"common t{i} t{i+1}") for i in range(5)]
    rows.append(("d5", "t5 t6"))
    index = T.term_index(
        spark.createDataFrame(rows, ["doc_id", "text"])).persist()
    try:
        index.count()  # build the cache
        out = T.similar_terms(index, "common", k=50)
        # the physical plan with its exchanges, before AQE re-planning
        jplan = out._jdf.queryExecution().executedPlan().initialPlan()
        assert _jnode_count(jplan, "ShuffledHashJoin") == 1
        assert _jnode_count(jplan, "BroadcastExchange") == 0
        got = [(r.term, r.similarity) for r in out.collect()]
    finally:
        index.unpersist()
    want = py_oracle([(d, text.split()) for d, text in rows], "common",
                     k=50, prefix="", suffix="")
    assert [t for t, _ in got] == [t for t, _ in want] and want
    for (_, g), (_, w) in zip(got, want):
        assert g == pytest.approx(w, abs=1e-12)


def test_warm_term_query_runs_two_jobs(spark):
    """A warm query on a persisted term index is two Spark jobs (the
    partition-local join with the partial per-term aggregation, then
    the final aggregation with the top-k), and an absent query term
    returns [] in no more: no size probe, no broadcast jobs."""
    sc = spark.sparkContext
    rows = [(f"d{i}", f"t{i % 7} t{i % 5} t{i % 3} common")
            for i in range(40)] + [("d40", "t1 t2")]
    index = T.term_index(
        spark.createDataFrame(rows, ["doc_id", "text"])).persist()

    def jobs_of(query):
        group = f"warm-term-query-{query}"
        sc.setJobGroup(group, "term query job count")
        try:
            got = T.similar_terms(index, query, k=5).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        return got, len(sc.statusTracker().getJobIdsForGroup(group))

    try:
        index.count()  # build the cache
        jobs_of("t1")  # first execution of the plan shape
        got, n_jobs = jobs_of("t2")
        assert got and n_jobs == 2
        absent, n_absent = jobs_of("nosuchterm")
        assert absent == [] and n_absent <= n_jobs
    finally:
        index.unpersist()


def test_bpe_arrow_applier_twin_of_fold(spark):
    """Cross-op twin (r9 VERDICT #1): the Arrow iterative applier
    (bpe_word_tokens_arrow, the 10k-merge scale path) must produce
    EXACTLY the fold's tokenization on the same 32-merge table —
    same words, same tokens, same counts, same schema."""
    from project_2_semantic_similarity_spark.operators.text import (
        BPE_MERGES, bpe_word_tokens, bpe_word_tokens_arrow)

    words = ["table", "value", "scan", "window", "data", "query",
             "fast", "hash", "spark", "the", "key", "row", "big",
             "tata", "anan", "sss", "windowwindow", "thethe", "t",
             "querying", "database", "scatter", "keykey"]
    df = spark.createDataFrame([(w,) for w in words], ["word"])
    fold = bpe_word_tokens(df)
    arrow = bpe_word_tokens_arrow(df, BPE_MERGES)
    assert arrow.schema.simpleString() == fold.schema.simpleString()
    f = {r["word"]: (list(r["tokens"]), r["n_tok"])
         for r in fold.collect()}
    a = {r["word"]: (list(r["tokens"]), r["n_tok"])
         for r in arrow.collect()}
    assert a == f


def test_bpe_iterative_equals_fold_semantics_on_large_table():
    """Property pin of the well-formedness equivalence claim
    (operators/text.py module comment): on large_merges(10000),
    iterative lowest-rank-first application == rank-ordered
    single-pass folds, over randomized words of the corpus alphabet
    (hypothesis). A counterexample here would mean the 10k table is
    not well-formed or the applier's scan order is wrong."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from project_2_semantic_similarity_spark.operators.text import (
        bpe_apply_word, large_merges)

    merges = large_merges(10_000)
    ranks = {p: i for i, p in enumerate(merges)}

    # well-formedness, checked directly: inputs exist before rank,
    # no output string produced twice
    produced = {chr(c) for c in range(ord("a"), ord("z") + 1)}
    for a, b in merges:
        assert a in produced and b in produced, (a, b)
        assert a + b not in produced, (a, b)
        produced.add(a + b)

    def fold_passes(word):
        syms = list(word)
        for a, b in merges:
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            syms = out
        return syms

    @settings(max_examples=300, deadline=None)
    @given(st.text(alphabet="abcdefghijklmnopqrstuvwxyz",
                   min_size=0, max_size=24))
    def check(word):
        assert bpe_apply_word(word, ranks) == fold_passes(word)

    check()


def test_bpe_trainer_feeds_appliers(spark, sf_dir):
    """Composition pin (r9 VERDICT #2): the learned merge table
    drives BOTH appliers to identical tokenizations (train -> apply
    is the real tokenizer pipeline), the table is well-formed (every
    symbol exists before its rank — the fold==iterative equivalence
    precondition), counts are positive non-increasing-ish sane, and
    ranks are 1..k."""
    from project_2_semantic_similarity_spark.operators.text import (
        bpe_word_tokens_arrow, bpe_segment)
    from project_2_semantic_similarity_spark.plans import registry

    registry.load_all()
    rows = sorted(
        registry.QUERIES["text_bpe_train"](spark, sf_dir).collect(),
                  key=lambda r: r["rank"])
    assert [r["rank"] for r in rows] == list(range(1, 11))
    assert all(r["pair_cnt"] > 0 for r in rows)
    merges = [(r["left_sym"], r["right_sym"]) for r in rows]

    produced = {chr(c) for c in range(ord("a"), ord("z") + 1)}
    for a, b in merges:
        assert a in produced and b in produced, (a, b)
        produced.add(a + b)

    vocab = (spark.read.parquet(f"{sf_dir}/documents.parquet")
             .select(F.explode(F.split("text", " ")).alias("word"))
             .filter(F.col("word") != "").distinct())
    arrow = {r["word"]: list(r["tokens"])
             for r in bpe_word_tokens_arrow(vocab, merges).collect()}
    chars = F.filter(F.split(F.col("word"), ""), lambda c: c != "")
    fold = {r["word"]: list(r["tokens"])
            for r in vocab.withColumn(
                "tokens", bpe_segment(chars, merges)).collect()}
    assert arrow == fold and len(arrow) > 0


def test_bpe_encode_ids_composes_with_tokenize_and_vocab(spark, sf_dir):
    """Pipeline closure: encode's per-doc row count and max position
    must equal text_bpe_tokenize's n_bpe_tokens (positions are a
    0-based gapless sequence), and every token_id must exist in
    text_bpe_vocab with matching id assignment."""
    from project_2_semantic_similarity_spark.plans import registry

    registry.load_all()
    enc = registry.QUERIES["text_bpe_encode_ids"](spark, sf_dir)
    per_doc = {r["doc_id"]: (r["n"], r["mx"]) for r in
               enc.groupBy("doc_id")
               .agg(F.count("*").alias("n"), F.max("pos").alias("mx"))
               .collect()}
    tk = {r["doc_id"]: r["n_bpe_tokens"] for r in
          registry.QUERIES["text_bpe_tokenize"](spark, sf_dir)
          .collect() if r["n_bpe_tokens"] > 0}
    assert set(per_doc) == set(tk)
    for d, (n, mx) in per_doc.items():
        assert n == tk[d] and mx == n - 1, (d, n, mx, tk[d])

    vocab_ids = {r["token"]: r["token_id"] for r in
                 registry.QUERIES["text_bpe_vocab"](spark, sf_dir)
                 .collect()}
    used = {r["token_id"] for r in
            enc.select("token_id").distinct().collect()}
    assert used <= set(vocab_ids.values())
    assert min(used) >= 4  # specials never appear in running text


def test_bpe_encode_docs_oov_maps_to_unk(spark):
    """The serving-path contract of the zero-shuffle encoder: words
    absent from the vocabulary map to the reserved <unk> id, empty
    docs emit nothing, and positions stay gapless per doc."""
    word_ids = {"hello": [7, 8], "world": [9]}
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "hello mystery world"), (3, ""),
         (4, "unseen")],
        ["doc_id", "text"])
    rows = sorted(
        (r["doc_id"], r["pos"], r["token_id"])
        for r in T.bpe_encode_docs(docs, word_ids, unk_id=1).collect())
    assert rows == [
        (1, 0, 7), (1, 1, 8), (1, 2, 9),
        (2, 0, 7), (2, 1, 8), (2, 2, 1), (2, 3, 9),
        (4, 0, 1),
    ]


def test_bpe_train_batched_batch1_is_sequential(spark):
    """batch=1 must degenerate to exactly the sequential trainer:
    same pairs, same ranks, same counts."""
    rows = [("d1", "aaab aab"), ("d2", "abab baba"), ("d3", "aabb cc")]
    words = (spark.createDataFrame(rows, ["doc_id", "text"])
             .select(F.explode(F.split("text", " ")).alias("word"))
             .filter(F.col("word") != "")
             .groupBy("word").agg(F.count("*").alias("cnt")))
    seq_bests, _ = T.bpe_train_rounds(words, 5)
    seq = []
    for best in seq_bests:
        r = best.collect()[0]
        seq.append((r["a"], r["b"], int(r["pair_cnt"])))
    batched = [p for rnd in T.bpe_train_batched(words, 5, batch=1)
               for p in rnd]
    assert batched == seq


def test_bpe_train_batched_disjoint_and_wellformed(spark):
    """A batch's pairs must share no symbol (constituent or output)
    with each other, the table must be well-formed (the fold ==
    iterative precondition), and higher batch sizes learn a superset
    of symbols without ever pairing a symbol twice per round."""
    rows = [("d1", "the cat sat on the mat"),
            ("d2", "the rat ate the oat"),
            ("d3", "stats matter straight")]
    words = (spark.createDataFrame(rows, ["doc_id", "text"])
             .select(F.explode(F.split("text", " ")).alias("word"))
             .filter(F.col("word") != "")
             .groupBy("word").agg(F.count("*").alias("cnt")))
    rounds = T.bpe_train_batched(words, 12, batch=4)
    flat = [p for rnd in rounds for p in rnd]
    assert 0 < len(flat) <= 12
    assert all(1 <= len(rnd) <= 4 for rnd in rounds)
    produced = {chr(c) for c in range(ord("a"), ord("z") + 1)}
    for a, b, cnt in flat:
        assert a in produced and b in produced, (a, b)
        assert cnt > 0
        produced.add(a + b)
    # per-round disjointness: no symbol appears twice within a round
    # (as constituent or output) — the independence precondition
    for rnd in rounds:
        used: set[str] = set()
        for a, b, _ in rnd:
            assert a not in used and b not in used \
                and (a + b) not in used, (a, b, used)
            used.update((a, b, a + b))


def _encode_fixture(spark, sf_dir):
    """(docs, vocab, ids) from the helpers text_bpe_encode_ids builds
    them with."""
    from project_2_semantic_similarity_spark.plans import q_textlab as q
    from project_2_semantic_similarity_spark.sources import load_table

    vocab = q._corpus_bpe_vocab(spark, sf_dir)
    ids = q._token_ids(q._token_freq(q._corpus_word_counts(spark, sf_dir),
                                     vocab))
    return load_table(spark, sf_dir, "documents"), vocab, ids


def _encode_broadcast(docs, vocab, ids, unk_id=1):
    """bpe_encode_corpus on a vocab under BPE_BROADCAST_VOCAB_MAX:
    the gate takes the broadcast Arrow encoder (pinned by its Python
    stage)."""
    out = T.bpe_encode_corpus(docs, vocab, ids, unk_id=unk_id)
    assert "MapInPandas" in (
        out._jdf.queryExecution().executedPlan().toString())
    return sorted(map(tuple, out.collect()))


def test_bpe_encode_corpus_strategies_hash_equal(spark, sf_dir):
    """TWIN PIN for the strategy gate: the zero-shuffle broadcast
    encoder and the windowed-join shape must produce the identical
    (doc_id, pos, token_id) relation on the same corpus — the gate
    may only ever change the PLAN."""
    docs, vocab, ids = _encode_fixture(spark, sf_dir)
    a = _encode_broadcast(docs, vocab, ids)
    b = sorted(map(tuple, T.bpe_encode_docs_join(
        docs, vocab, ids).collect()))
    assert len(a) > 1000
    assert a == b


def test_bpe_encode_corpus_auto_gate_forces_join(spark, sf_dir,
                                                  monkeypatch):
    """BPE_BROADCAST_VOCAB_MAX=0 must route the gate to the join path
    — the forced-huge-vocab shape a 10^9-distinct-word crawl takes.
    The join plan must contain NO Python stage (the Arrow encoder's
    mapInPandas) and no driver collect of the vocabulary."""
    docs, vocab, ids = _encode_fixture(spark, sf_dir)
    a = _encode_broadcast(docs, vocab, ids)
    monkeypatch.setattr(T, "BPE_BROADCAST_VOCAB_MAX", 0)
    out = T.bpe_encode_corpus(docs, vocab, ids)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "mapInPandas" not in plan and "MapInPandas" not in plan
    # and it still matches the broadcast twin
    assert sorted(map(tuple, out.collect())) == a


@pytest.mark.parametrize("name", ["text_bpe_encode_holdout",
                                  "text_bpe_encode_bytes"])
def test_holdout_and_byte_encodes_reuse_their_slots(spark, sf_dir,
                                                    run_counting_jobs,
                                                    name):
    """The holdout and byte encodes keep their word counts and
    vocabulary in snapshot-keyed slots, so a warm plan build +
    collect runs fewer Spark jobs than the cold one that builds
    them."""
    from project_2_semantic_similarity_spark.operators.cache import (
        clear_slots)
    from project_2_semantic_similarity_spark.plans import registry

    registry.load_all()
    fn = registry.QUERIES[name]
    clear_slots()
    cold_rows, cold = run_counting_jobs(
        f"{name}_cold", lambda: fn(spark, sf_dir).collect())
    warm_rows, warm = run_counting_jobs(
        f"{name}_warm", lambda: fn(spark, sf_dir).collect())
    assert sorted(map(tuple, warm_rows)) == sorted(map(tuple, cold_rows))
    assert warm < cold, (cold, warm)


def test_bpe_encode_join_oov_maps_to_unk(spark):
    """OOV serving parity between the strategies: a held-out doc
    containing words the vocabulary never saw encodes the OOV slots
    to <unk> identically through both shapes."""
    vocab = T.bpe_word_tokens(
        spark.createDataFrame([("hello",), ("world",)], ["word"]))
    toks = {r["word"]: r["tokens"] for r in vocab.collect()}
    all_toks = sorted({t for ts in toks.values() for t in ts})
    ids = spark.createDataFrame(
        [(t, i + 4) for i, t in enumerate(all_toks)],
        ["token", "token_id"])
    docs = spark.createDataFrame(
        [(1, "hello unseen world"), (2, "total mystery")],
        ["doc_id", "text"])
    a = _encode_broadcast(docs, vocab, ids, unk_id=1)
    b = sorted(map(tuple, T.bpe_encode_docs_join(
        docs, vocab, ids, unk_id=1).collect()))
    assert a == b
    unk_rows = [r for r in a if r[2] == 1]
    # 'unseen' -> one <unk>; 'total' + 'mystery' -> one <unk> each
    assert len(unk_rows) == 3


def test_bpe_encode_docs_null_text_tolerated(spark):
    """NULL text rows must encode to nothing (not raise inside the
    Arrow stage) — matching the family's plan-side F.split null
    tolerance (r10 advice)."""
    from pyspark.sql import types as ST

    word_ids = {"a": [5]}
    docs = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a a")],
        ST.StructType([
            ST.StructField("doc_id", ST.LongType()),
            ST.StructField("text", ST.StringType()),
        ]))
    rows = sorted(
        (r["doc_id"], r["pos"], r["token_id"])
        for r in T.bpe_encode_docs(docs, word_ids, unk_id=1).collect())
    assert rows == [(1, 0, 5), (3, 0, 5), (3, 1, 5)]


# --------------------------------------------------------------------------
# byte-level BPE (r11 VERDICT #5)


def test_byte_unicode_map_matches_gpt2_table(spark):
    """The Spark map literal (byte_unicode_word) and the closed-form
    inverse (byte_symbol_to_byte) must both agree with the reference
    Python table over ALL 256 bytes — this is the single pin that
    keeps the operator, the id scheme, and the DuckDB oracle CASE
    (q_textlab._byte_cp_case_sql, hash-verified at the driver) on the
    same alphabet."""
    table = T.gpt2_byte_unicode()
    assert len(table) == 256 and len(set(table.values())) == 256
    # forward: a word carrying every byte value, in latin-1 order —
    # its UTF-8 bytes are NOT 0..255, so map per single-byte word
    rows = [(bytes([b]).decode("latin-1"),) for b in range(256)]
    df = spark.createDataFrame(rows, ["w"])
    got = df.select("w", T.byte_unicode_word(F.col("w")).alias("m")).collect()
    for r in got:
        want = "".join(table[x] for x in r.w.encode("utf-8"))
        assert r.m == want, (r.w, r.m, want)
    # inverse: every mapped char round-trips to its byte
    inv_rows = [(table[b], b) for b in range(256)]
    idf = spark.createDataFrame(inv_rows, ["c", "b"])
    back = idf.select("b", T.byte_symbol_to_byte(F.col("c")).alias("ib")).collect()
    assert all(r.b == r.ib for r in back)


def test_byte_bpe_ids_closed_and_unique(spark):
    """The deterministic id table covers every base byte and every
    merge output with UNIQUE ids — the closure property that makes
    <unk> unreachable."""
    ids = T.byte_bpe_ids(spark).collect()
    assert len(ids) == 256 + len(T.BPE_MERGES)
    assert len({r.token for r in ids}) == len(ids)
    assert len({r.token_id for r in ids}) == len(ids)
    by_tok = {r.token: r.token_id for r in ids}
    table = T.gpt2_byte_unicode()
    assert by_tok[table[0]] == 4 and by_tok[table[255]] == 4 + 255
    a, b = T.BPE_MERGES[0]
    assert by_tok[a + b] == 260


def test_byte_trainer_is_char_trainer_on_ascii(spark):
    """On an all-printable-ASCII corpus the byte seed IS the char
    seed (printable bytes map to themselves), so the two trainers
    must learn the identical merge table; on a non-ASCII corpus the
    byte trainer merges MAPPED BYTE symbols the char trainer can
    never see."""
    corpus = [("data table data table fast scan",),
              ("the window the window the key",),
              ("query value query value query",)]
    docs = spark.createDataFrame(corpus, ["text"])
    words = (docs.select(F.explode(F.split("text", " ")).alias("word"))
             .filter(F.col("word") != "")
             .groupBy("word").agg(F.count("*").alias("cnt")))
    bwords = words.select(T.byte_unicode_word(F.col("word")).alias("word"),
                          "cnt")
    chars, _ = T.bpe_train_rounds(words, 4)
    bytes_, _ = T.bpe_train_rounds(bwords, 4)
    cm = [tuple(r[0]) for r in (b.select("a", "b").collect() for b in chars)]
    bm = [tuple(r[0]) for r in (b.select("a", "b").collect() for b in bytes_)]
    assert cm == bm
    # non-ASCII: 'ééé' dominates — byte trainer's first merge is the
    # mapped byte pair (Ã©-type symbols), never the raw char
    ndocs = spark.createDataFrame([("ééé ééé ééé",)], ["text"])
    nwords = (ndocs.select(F.explode(F.split("text", " ")).alias("word"))
              .groupBy("word").agg(F.count("*").alias("cnt"))
              .select(T.byte_unicode_word(F.col("word")).alias("word"),
                      "cnt"))
    learned, _ = T.bpe_train_rounds(nwords, 1)
    a, b = learned[0].select("a", "b").collect()[0]
    tbl = T.gpt2_byte_unicode()
    eb = "é".encode("utf-8")
    assert {a, b} <= {tbl[eb[0]], tbl[eb[1]], tbl[eb[0]] + tbl[eb[1]]}


def test_byte_encode_never_emits_unk(spark, sf_dir):
    """The defining property: every token id in the byte-level encode
    is >= 4 (a real base-byte or merge id) — unk (1) and the other
    specials are unreachable even for the engineered non-ASCII OOV
    word each doc carries."""
    import __spark_entry__ as e

    out = e.queries()["text_bpe_encode_bytes"](spark, sf_dir)
    assert out.filter(F.col("token_id") < 4).count() == 0
    # the non-ASCII word's bytes (C3 A9) actually appear as ids
    tbl = T.gpt2_byte_unicode()
    c3 = 4 + 0xC3
    assert out.filter(F.col("token_id") == c3).count() > 0
    assert tbl[0xC3] == "Ã"


def test_shuffle_windows_is_permutation(spark, sf_dir):
    """corpus_shuffle_windows must emit a bijection: shuffled_pos is
    exactly 0..n-1, window_id is exactly the window-id set of
    corpus_context_window_ids, and the mapping is deterministic
    (same result on re-run)."""
    import __spark_entry__ as e

    out = e.queries()["corpus_shuffle_windows"](spark, sf_dir).collect()
    n = len(out)
    assert sorted(r.shuffled_pos for r in out) == list(range(n))
    wids = {r.window_id for r in out}
    ref = (e.queries()["corpus_context_window_ids"](spark, sf_dir)
           .select("window_id").distinct().collect())
    assert wids == {r.window_id for r in ref}
    again = e.queries()["corpus_shuffle_windows"](spark, sf_dir).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_bpe_decode_roundtrips_marked_stream(spark):
    """encode(marked) -> flat id stream -> decode must reproduce the
    single-space-normalized source exactly — including a tab INSIDE
    a word (mapped byte, not a separator), runs of spaces (collapsed
    by normalization on both sides), and multi-byte UTF-8 (é, ß) —
    and n_ids must equal the stream length."""
    rows = [
        (0, "the fast  query"),            # double space collapses
        (1, " leading and trailing "),     # trimmed empties
        (2, "tab\tinside word"),           # tab is word-internal
        (3, "café straße"),                # 2-byte UTF-8 sequences
        (4, "one"),                        # single word: no marker
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    marked = T.byte_unicode_docs_marked(docs)
    words = (marked.select(
        F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word").agg(F.count("*").alias("cnt")))
    vocab = T.bpe_word_tokens(words.select("word").distinct())
    ids = T.byte_bpe_ids(spark)
    stream = T.bpe_encode_corpus(marked, vocab, ids, unk_id=1)
    got = {r.doc_id: (r.decoded_text, r.n_ids)
           for r in T.bpe_decode_ids(stream, ids).collect()}
    n_by_doc = {r.doc_id: r.n for r in stream.groupBy("doc_id")
                .agg(F.count("*").alias("n")).collect()}
    for doc_id, text in rows:
        want = " ".join(w for w in text.split(" ") if w)
        assert got[doc_id][0] == want, (doc_id, got[doc_id][0], want)
        assert got[doc_id][1] == n_by_doc[doc_id]


def test_bpe_decode_consumes_the_stream(spark):
    """Decode must derive the text from the id stream, not copy any
    input: corrupting ONE id changes the decoded text."""
    docs = spark.createDataFrame([(0, "the fast query")],
                                 ["doc_id", "text"])
    marked = T.byte_unicode_docs_marked(docs)
    words = (marked.select(
        F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word").agg(F.count("*").alias("cnt")))
    vocab = T.bpe_word_tokens(words.select("word").distinct())
    ids = T.byte_bpe_ids(spark)
    stream = T.bpe_encode_corpus(marked, vocab, ids, unk_id=1)
    corrupted = stream.withColumn(
        "token_id",
        F.when(F.col("pos") == 0, F.lit(4 + ord("z")).cast("long"))
         .otherwise(F.col("token_id")))
    out = T.bpe_decode_ids(corrupted, ids).collect()[0]
    assert out.decoded_text != "the fast query"
    assert out.decoded_text.startswith("z")


def test_wordpiece_matches_python_golden(spark):
    """The Arrow greedy matcher equals the pure-Python reference on
    a mixed fixture (merge outputs, novel chars, whole-inventory
    words)."""
    fixture = ["stable", "database", "querying", "zzz", "the",
               "windowswindow", "x", "fastest", "valuetable"]
    outs = T.wordpiece_merge_outputs()
    df = spark.createDataFrame([(w,) for w in fixture], ["word"])
    got = {r.word: (list(r.tokens), r.n_tok)
           for r in T.wordpiece_word_tokens(df).collect()}
    for w in fixture:
        want = T.wordpiece_apply_word(w, outs)
        assert got[w] == (want, len(want)), (w, got[w], want)
        assert "".join(want) == w  # lossless segmentation


def test_wordpiece_differs_from_bpe_merge_order():
    """Greedy longest-match is a genuinely different algorithm than
    rank-ordered merge application: 'stable' greedy-splits as
    ['st','a','b','l','e'] (grabs the 'st' surface pair; 'table' is
    no longer reachable) while BPE builds ['s','table'] (merges
    construct 'table' before any 'st' pair exists)."""
    ranks = {p: i for i, p in enumerate(T.BPE_MERGES)}
    outs = T.wordpiece_merge_outputs()
    assert T.bpe_apply_word("stable", ranks) == ["s", "table"]
    assert T.wordpiece_apply_word("stable", outs) == \
        ["st", "a", "b", "l", "e"]
    # and the inventory is longest-first with implicit-char fallback
    assert outs == sorted(outs, key=lambda t: (-len(t), t))
    assert T.wordpiece_apply_word("qqq", outs) == ["q", "q", "q"]
