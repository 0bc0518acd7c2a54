"""Seeded workload inputs. The same seed always gives the same files.

The gene corpus copies the recipe of ``bench.py:_gene_corpus`` (the
BASELINE.md corpus shape) instead of importing it, so an edit to
``bench.py`` cannot change this benchmark's inputs. No Spark imports:
the engine under test only ever sees the files written here.
"""

from __future__ import annotations

import os
import random

GENE_VOCAB = [f"gene_g{i}_gene" for i in range(200)]
BASE_VOCAB = [f"word{i}" for i in range(5000)]
# Same skew as the corpus recipe: gene rank i is 2^(-i/25) as likely.
GENE_WEIGHTS = [2.0 ** (-i / 25.0) for i in range(200)]

# Query mix of the term workload: Zipf over the gene vocabulary, some
# base-vocabulary terms, and some terms absent from every snapshot.
GENE_SHARE = 0.80
BASE_SHARE = 0.15
ZIPF_S = 1.1
ZIPF_WEIGHTS = [1.0 / (r + 1) ** ZIPF_S for r in range(len(GENE_VOCAB))]

# Vocabulary and shape of the fixture ``documents`` table (FIXTURES.md).
DOC_WORDS = ("spark window merge table column vector stream value data "
             "small join filter big group hash customer sort order slow "
             "line part fast row the agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.14, 0.15)
EMBED_DIM = 64
# Share of sf0.1 documents that repeat an earlier one plus " dup".
NEAR_DUP_SHARE = 0.05


def _rng(seed: int, stream: int) -> random.Random:
    """Independent generator per (seed, stream)."""
    return random.Random(seed * 1_000_003 + stream)


def gene_corpus(path: str, n_docs: int, seed: int) -> int:
    """Write a reference-format corpus (``doc_id tok tok ...`` per
    line): 80-220 base tokens from a 5000-word vocabulary plus 3-15
    skewed ``gene_*_gene`` terms per document. Returns the token
    count."""
    rng = random.Random(seed)
    n_tokens = 0
    with open(path, "w") as fh:
        for d in range(n_docs):
            toks = rng.choices(BASE_VOCAB, k=rng.randint(80, 220))
            toks += rng.choices(GENE_VOCAB, GENE_WEIGHTS,
                                k=rng.randint(3, 15))
            rng.shuffle(toks)
            n_tokens += len(toks)
            fh.write(f"doc{d} {' '.join(toks)}\n")
    return n_tokens


def query_stream(seed: int, n: int) -> list[str]:
    """``n`` query terms: mostly Zipf over the gene vocabulary, some
    base-vocabulary terms, and some terms no snapshot contains."""
    rng = _rng(seed, 1)
    out = []
    for _ in range(n):
        r = rng.random()
        if r < GENE_SHARE:
            out.append(rng.choices(GENE_VOCAB, ZIPF_WEIGHTS)[0])
        elif r < GENE_SHARE + BASE_SHARE:
            out.append(rng.choice(BASE_VOCAB))
        else:
            out.append(f"absent_t{rng.randrange(10**6)}")
    return out


def batch_snapshot(dirpath: str, seed: int, n_docs: int = 5000,
                   n_vecs: int = 2000) -> None:
    """Write ``documents.parquet`` and ``embeddings.parquet`` in the
    fixture schema, by default at the size of the sf0.1 fixture, and
    with its profile as measured there with DuckDB: 10-100 words from
    a 30-word vocabulary; 5% of the documents repeat an earlier
    document's text with `` dup`` appended, so a few of those are also
    exact duplicates of each other; embeddings are unit-length Gaussian
    vectors with no planted near duplicates.

    The shape (document lengths, which rows repeat which) is the same
    for every seed; the seed picks the words, vectors and labels.
    Iterative operators (connected components over the duplicate
    graph) then do the same amount of work on every seed, and only the
    content varies."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    shape = random.Random(0)
    rng = _rng(seed, 2)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and shape.random() < NEAR_DUP_SHARE:
            text = texts[shape.randrange(i)] + " dup"
        else:
            text = " ".join(rng.choices(DOC_WORDS,
                                        k=shape.randint(10, 100)))
        texts.append(text)
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choices(LANGS, LANG_WEIGHTS, k=n_docs),
                         pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    vecs: list[list[float]] = []
    for _ in range(n_vecs):
        v = [rng.gauss(0.0, 1.0) for _ in range(EMBED_DIM)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    embeds = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in range(n_vecs)],
                          pa.int32()),
    })
    os.makedirs(dirpath, exist_ok=True)
    pq.write_table(docs, os.path.join(dirpath, "documents.parquet"))
    pq.write_table(embeds, os.path.join(dirpath, "embeddings.parquet"))


def size_mb(path: str) -> float:
    """Size of a file, or of every file under a directory, in MB."""
    if os.path.isfile(path):
        return os.path.getsize(path) / 1e6
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files) / 1e6
