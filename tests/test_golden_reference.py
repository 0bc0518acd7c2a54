"""Golden test pinning the reference's exact algorithm semantics
(SURVEY.md §2.A contract; reference app.py:115-181) on a synthetic
gene-style corpus, against an independent pure-Python oracle
implemented directly from the documented math (not the reference
code): tf = occ/doc_len, idf = log10(N/df), pattern filter AFTER
tf-idf, cosine with absent entries = 0, self-excluded, zero-dropped,
top-5 descending."""

from __future__ import annotations

import math
import random
from collections import Counter

import pytest

from project_2_semantic_similarity_spark.operators.text import (
    term_similarity_pipeline,
)
from project_2_semantic_similarity_spark.sources import read_text_corpus

QUERY = "gene_g0_gene"


def gen_corpus(n_docs: int = 120, seed: int = 42) -> list[tuple[str, list[str]]]:
    rng = random.Random(seed)
    base_vocab = [f"w{i}" for i in range(60)]
    genes = [f"gene_g{i}_gene" for i in range(12)]
    docs = []
    for d in range(n_docs):
        toks = [rng.choice(base_vocab) for _ in range(rng.randint(15, 40))]
        for g in genes:
            # skewed gene occurrence; correlated with g0 for signal
            if rng.random() < 0.25:
                toks += [g] * rng.randint(1, 3)
        rng.shuffle(toks)
        docs.append((f"doc{d}", toks))
    return docs


def py_oracle(docs: list[tuple[str, list[str]]], query: str, k: int = 5,
              prefix: str = "gene_", suffix: str = "_gene"):
    """Pure-Python tf-idf cosine top-k per the §2.A contract; empty
    ``prefix`` and ``suffix`` turn the pattern filter off."""
    n = len(docs)
    df: Counter = Counter()
    per_doc: dict[str, Counter] = {}
    for doc_id, toks in docs:
        c = Counter(toks)
        per_doc[doc_id] = c
        for t in c:
            df[t] += 1
    # full-vocab tfidf, then pattern filter
    vecs: dict[str, dict[str, float]] = {}
    for doc_id, c in per_doc.items():
        total = sum(c.values())
        for t, occ in c.items():
            if not (t.startswith(prefix) and t.endswith(suffix)):
                continue
            w = (occ / total) * math.log10(n / df[t])
            vecs.setdefault(t, {})[doc_id] = w
    q = vecs.get(query, {})
    qnorm = math.sqrt(sum(v * v for v in q.values()))
    out = []
    for t, vec in vecs.items():
        if t == query:
            continue
        num = sum(q.get(d, 0.0) * v for d, v in vec.items())
        den2 = math.sqrt(sum(v * v for v in vec.values()))
        if den2 == 0 or qnorm == 0:
            continue
        sim = num / (den2 * qnorm)
        if sim != 0:
            out.append((t, sim))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


def test_golden_gene_corpus(spark, tmp_path):
    docs = gen_corpus()
    path = tmp_path / "gene_corpus.txt"
    path.write_text(
        "\n".join(f"{d} {' '.join(toks)}" for d, toks in docs) + "\n")

    corpus = read_text_corpus(spark, str(path))
    got = term_similarity_pipeline(
        corpus, QUERY, k=5, prefix="gene_", suffix="_gene").collect()
    expected = py_oracle(docs, QUERY, 5)

    assert [r.term for r in got] == [t for t, _ in expected]
    for r, (_, sim) in zip(got, expected):
        assert r.similarity == pytest.approx(sim, abs=1e-9)


def test_golden_full_vocab_no_filter(spark, tmp_path):
    # Without the pattern filter every term competes; oracle adapted.
    docs = gen_corpus(n_docs=60, seed=7)
    path = tmp_path / "c.txt"
    path.write_text("\n".join(f"{d} {' '.join(t)}" for d, t in docs))

    n = len(docs)
    df: Counter = Counter()
    per_doc = {}
    for doc_id, toks in docs:
        c = Counter(toks)
        per_doc[doc_id] = c
        for t in c:
            df[t] += 1
    vecs: dict[str, dict[str, float]] = {}
    for doc_id, c in per_doc.items():
        total = sum(c.values())
        for t, occ in c.items():
            vecs.setdefault(t, {})[doc_id] = (
                (occ / total) * math.log10(n / df[t]))
    q = vecs[QUERY]
    qnorm = math.sqrt(sum(v * v for v in q.values()))
    exp = []
    for t, vec in vecs.items():
        if t == QUERY:
            continue
        num = sum(q.get(d, 0.0) * v for d, v in vec.items())
        den2 = math.sqrt(sum(v * v for v in vec.values()))
        if den2 > 0 and qnorm > 0 and num != 0:
            exp.append((t, num / (den2 * qnorm)))
    exp.sort(key=lambda x: (-x[1], x[0]))

    got = term_similarity_pipeline(
        read_text_corpus(spark, str(path)), QUERY, k=5).collect()
    assert [r.term for r in got] == [t for t, _ in exp[:5]]
    for r, (_, sim) in zip(got, exp[:5]):
        assert r.similarity == pytest.approx(sim, abs=1e-9)
