"""User-facing facade (SURVEY.md §3.4): the three public entry
points a user of the reference switches to.

1. Builder API::

       eng = Engine(spark)
       top5 = eng.corpus("corpus.txt").similar_terms("gene_x_gene",
                                                     k=5,
                                                     prefix="gene_",
                                                     suffix="_gene")

2. SQL — ``eng.register_views(sf_dir)`` then ``spark.sql(...)`` over
   the same tables the DataFrame operators see.

3. CLI — ``python -m project_2_semantic_similarity_spark <query>
   <corpus.txt>`` prints the reference's exact output format
   (``"{:<50}{}"``, reference app.py:176-179).

Every method returns a lazy DataFrame; nothing collects."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from project_2_semantic_similarity_spark.operators import text as T
from project_2_semantic_similarity_spark.sources import (
    corpus_from_documents,
    read_text_corpus,
)
from project_2_semantic_similarity_spark.sources.tables import (
    register_views,
)


class Corpus:
    """A lazily-loaded document corpus bound to an engine."""

    def __init__(self, df: DataFrame):
        self.df = df
        # Identity of this corpus in the term-index slot: queries on
        # the same Corpus reuse one persisted index. An object, not
        # id(self), so a later Corpus can never inherit a stale key.
        self._cache_key = object()

    def tfidf(self) -> DataFrame:
        """(doc_id, term, tfidf) weight table."""
        return T.tfidf(self.df)

    def similar_terms(self, query: str, k: int = 5,
                      prefix: str | None = None,
                      suffix: str | None = None) -> DataFrame:
        """Top-k terms most similar to ``query`` (the reference's
        whole program, app.py:115-181)."""
        return T.term_similarity_pipeline(
            self.df, query, k=k, prefix=prefix, suffix=suffix,
            cache_key=self._cache_key)


class Engine:
    def __init__(self, spark: SparkSession):
        self.spark = spark

    def corpus(self, source: str | DataFrame) -> Corpus:
        """Accepts a reference-format text file path or any DataFrame
        with (doc_id, text) columns."""
        if isinstance(source, str):
            return Corpus(read_text_corpus(self.spark, source))
        return Corpus(corpus_from_documents(source))

    def register_views(self, sf_dir: str) -> None:
        """Expose the testdata tables to ``spark.sql``."""
        register_views(self.spark, sf_dir)

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)


def main(argv: list[str] | None = None) -> int:
    """CLI parity with the reference: ``<query_term> <corpus_path>``
    [k] [prefix] [suffix] — prints top-k in the reference's
    left-padded format."""
    import sys

    args = list(sys.argv[1:] if argv is None else argv)
    if len(args) < 2:
        print("usage: python -m project_2_semantic_similarity_spark "
              "<query_term> <corpus.txt> [k] [prefix] [suffix]",
              file=sys.stderr)
        return 2
    query, path = args[0], args[1]
    try:
        k = int(args[2]) if len(args) > 2 else 5
    except ValueError:
        print(f"k must be an integer, got {args[2]!r}", file=sys.stderr)
        return 2
    prefix = args[3] if len(args) > 3 else None
    suffix = args[4] if len(args) > 4 else None

    from project_2_semantic_similarity_spark.session import get_spark

    eng = Engine(get_spark("p2ss-cli"))
    rows = eng.corpus(path).similar_terms(
        query, k=k, prefix=prefix, suffix=suffix).collect()
    print("")
    for r in rows:
        print("{:<50}{}".format(r.term, r.similarity))
    print("")
    return 0
