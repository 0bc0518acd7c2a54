"""Registry mapping operator names (SURVEY.md §2.B) to
(spark, sf_dir) -> DataFrame callables and their DuckDB oracle SQL.

Every declared query follows the hash-matching rules (FIXTURES.md §3):
computed float columns are aliased AND rounded to 6 dp in BOTH the
Spark plan and the oracle SQL; top-k queries carry a total-order
tie-break; column names match exactly.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle=None`` declares a rows-only check
    (non-SQL-expressible / approximate ops)."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# The driver's correctness pass verifies queries in dict insertion
# order and (observed since round 1) covers a window of ~50 names per
# round.  Rather than hardcode any round's output, the ordering is
# derived from the CORRECTNESS_r*.json artifacts themselves at load
# time, with three tiers:
#
#   0. the flagship, plus every query whose BEHAVIOR changed this
#      round (_CHANGED_THIS_ROUND) and every query with no driver row
#      in ANY artifact (new queries) — changed code must never escape
#      independent re-verification;
#   1. everything else, oldest-last-verified first, so coverage
#      rotates through the full inventory across rounds and the union
#      of artifacts converges on all names.
#
# Update _CHANGED_THIS_ROUND whenever a commit changes what a declared
# query computes (plan shape changes that keep results identical count
# too — the driver's hash check is the independent signal that the
# change is in fact result-preserving).
_CHANGED_THIS_ROUND = frozenset(
    {
        # --- r14 verification debt (r14 verdict #1): these query
        # paths had their plan construction rewritten by the r14
        # optimizer AFTER this set was last updated, so the r14
        # driver window never re-verified them.  Builder-side
        # sf0.001 oracles + the test suite are green; the driver
        # hash is the independent signal still owed.
        # Tokenizer family — shared persisted word-count/vocab/
        # doc-subword-count slots (commit 4044c1a):
        "text_bpe_tokenize",
        "text_bpe_vocab",
        "text_bpe_encode_ids",
        "text_bpe_vocab_coverage",
        "text_token_count_bpe",
        "corpus_context_window_ids",
        "corpus_context_window_ids_sep",
        "corpus_window_doc_starts",
        "corpus_to_training_batches",
        "corpus_shuffle_windows",
        # Unigram tokenizer memoized slots (commit fb109d9):
        "text_unigram_tokenize",
        "text_unigram_train",
        # Streaming replays — scale-adaptive state partitions +
        # tmpfs memory-sink checkpoints (commit b469f2a):
        "stream_tumbling_count",
        "stream_sliding_avg",
        "stream_session",
        "stream_dedup_watermark",
        "stream_stream_join",
        "stream_static_join",
        "stream_histogram_exponential",
        "stream_late_data",
        "stream_rollup_cascade",
        "stream_latest_state",
        "stream_cms_counts",
        "stream_bitmap_distinct",
        "stream_topk",
        # Blocked-pair engines — driver-local triangle screen
        # (commit 0b54e2b):
        "dedup_embedding_cosine",
        "dedup_embedding_cosine_fold",
        "knn_batch_topk",
        # Lazy when() guard + hash-keyed spread (commit 91ada7c):
        "dedup_passage",
        "dedup_substring_runs",
        # Memoized Lloyd fit + BLAS exact pair stage (c2f4350):
        "cluster_kmeans",
        "cluster_kmeans_1iter",
        # Persisted filtered-slice / signature slots (1833a45):
        "corpus_prep_fineweb",
        "corpus_prep_pipeline_lsh",
        # --- round 15 changes (appended as they land):
        # Shared persisted shingle relation (q_dedup._corpus_shingles
        # slot) replaces per-execution (and 4×-per-plan) rebuilds:
        "dedup_containment",
        "dedup_jaccard_exact",
        "dedup_pipeline",
        "dedup_clusters",
        "dedup_transitive_keep",
        "dedup_minhash",
        # lazy localCheckpoints on fact/dev + scale-adaptive range
        # partitions in the quantile passes:
        "dq_outliers_mad",
        "agg_percentile",
        # byte-level word/vocab slots replace eager per-execution
        # localCheckpoints:
        "text_bpe_decode",
        # statically unrolled (bit-identical) per-pair dot:
        # (dedup_embedding_cosine / knn_batch_topk already listed
        # above from the r14 debt)
        # hamming local path: slice-cap flush + duplicate-id edge
        # parity fix (results identical under unique doc_ids):
        "dedup_phash_clusters",
        # CMS sketch built from the pre-aggregated exact counts
        # (bit-identical counters, 30x fewer md5 evaluations):
        "agg_cms_portable",
        # v1/v2 snapshot writes submitted concurrently (guide §2.6):
        "scan_snapshot_diff",
        "scan_time_travel",
        # Query-ready term index: tfidf() computes df and the per-term
        # squared tf norm in one aggregation, and the flagship queries
        # a doc_id-partitioned index with per-term norms through a
        # partition-local shuffled hash join (no probe, no broadcast):
        "flagship_term_similarity",
        "text_tfidf",
        "text_doc_similarity",
        "text_doc_similarity_ann",
        "text_keywords",
        "udaf_pandas",
        # Driver-built rows enter plans as LocalRelations
        # (session.local_frame), the k-means fit runs one partial-sum
        # job per Lloyd iteration through the shared assignment
        # kernel, and the module memos evict only on a new key. Also
        # reached, and listed above: cluster_kmeans{,_1iter},
        # dedup_embedding_cosine{,_fold}, knn_batch_topk,
        # dedup_clusters, dedup_transitive_keep, dedup_phash_clusters,
        # text_doc_similarity, text_bpe_vocab{,_coverage},
        # text_bpe_decode, text_unigram_train.
        "agg_quantile_hist",
        "dedup_semdedup",
        "embedding_pca_power",
        "knn_ivf_pq",
        "knn_ivf_trained",
        "knn_pq",
        "text_bpe_encode_bytes",
        "text_bpe_train_batched",
        # One memo layer: the module memo dicts became operators/
        # cache.py slots (keyed_value), the on-disk codebook and
        # minhash-variant memos are gone, and keyed_persist is
        # keyed_value over a persist. Also reached, and listed above:
        # every other keyed_persist/keyed_value user, and through the
        # folded memos dedup_clusters, dedup_transitive_keep,
        # dedup_minhash, dedup_embedding_cosine{,_fold},
        # knn_batch_topk, knn_ivf_pq, knn_ivf_trained, knn_pq and
        # dedup_phash_clusters.
        "corpus_decontaminate",
        "corpus_prep_pipeline",
        "corpus_to_training_shards",
        "dedup_simhash",
        "graph_khop_neighbors",
        "graph_triangle_count",
        "knn_ivf",
        "knn_range_search",
        # One strategy gate: every LIMIT-count branch goes through
        # cache.gate with a module-constant bound, the doc-similarity
        # shape probe is memoized on its cache_key, the ANN vocab is
        # one collect, and minhash_signatures takes the probed
        # variant only. Also reached, and listed above:
        # text_doc_similarity{,_ann}, knn_range_search,
        # dedup_phash_clusters, dedup_minhash, dedup_clusters,
        # corpus_prep_pipeline_lsh, corpus_context_window_ids{,_sep},
        # corpus_shuffle_windows, corpus_to_training_batches,
        # corpus_window_doc_starts, text_bpe_decode,
        # text_bpe_encode_bytes, text_bpe_encode_ids, text_bpe_vocab
        # and text_bpe_vocab_coverage.
        "text_bpe_encode_holdout",
        # One tokenizer pipeline: word counts, vocabularies, token
        # ids, doc offsets, window slots and the per-doc fertility
        # tail come from shared q_textlab helpers; the holdout and
        # byte encodes keep their words and vocabulary in
        # snapshot-keyed slots; text_token_count_bpe reads tl_nbpe;
        # the graph edge slots are keyed on the lineitem snapshot.
        # Also reached, and listed above: the rest of the BPE family,
        # corpus_context_window_ids{,_sep}, corpus_window_doc_starts,
        # corpus_shuffle_windows, corpus_to_training_batches,
        # text_unigram_tokenize, text_bpe_train_batched,
        # graph_triangle_count and graph_khop_neighbors.
        "text_bpe_tokenize_10k",
        "text_bpe_train",
        "text_bpe_train_bytes",
        "text_wordpiece_tokenize",
        # Driver-side component labelling: operators/graph.py
        # dedup_clusters labels pair graphs of at most
        # CC_LOCAL_MAX_EDGES pairs in numpy. Reached, and listed
        # above: dedup_clusters, dedup_transitive_keep and the
        # distributed branch of dedup_phash_clusters.
        # Driver-sized embedding tables: one Arrow fetch per snapshot
        # (similarity.vectors_local) feeds numpy branches of
        # dedup_embedding_cosine, knn_ivf_pq and knn_pq; pq_knn
        # computes each vector's norm once; the trained codebook
        # counts its table once. Reached, and listed above:
        # dedup_embedding_cosine{,_fold}, knn_ivf_pq and knn_pq.
    }
)
# r15 window composition: flagship + 34 r14-debt names above + the
# r15-changed names appended in place ≈ 44 of the ~50-name window;
# the remaining slots drain the oldest (r8) tier.


def _verified_rounds() -> dict[str, int]:
    """name -> latest round with a driver row (any outcome: a green
    hash match, a rows-only run, even an error — all mean the driver
    REACHED the name that round)."""
    import glob
    import json
    import os
    import re

    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name in rows:
            latest[name] = max(latest.get(name, 0), rnd)
    return latest


def ordered_queries() -> dict[str, QueryFn]:
    """QUERIES tiered for the driver's verification window: flagship /
    changed / never-driver-verified first, then oldest-verified first
    (stable within ties, so insertion order breaks them)."""
    verified = _verified_rounds()

    def key(name: str) -> tuple[int, int]:
        if name == "flagship_term_similarity":
            return (0, 0)
        if name in _CHANGED_THIS_ROUND or name not in verified:
            return (1, 0)
        return (2, verified[name])

    return dict(sorted(QUERIES.items(), key=lambda kv: key(kv[0])))


def ordered_oracles() -> dict[str, str]:
    return {n: ORACLES[n] for n in ordered_queries() if n in ORACLES}


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    import project_2_semantic_similarity_spark.plans.q_analytics  # noqa: F401
    import project_2_semantic_similarity_spark.plans.q_dedup  # noqa: F401
    import project_2_semantic_similarity_spark.plans.q_functions  # noqa: F401
    import project_2_semantic_similarity_spark.plans.q_knn  # noqa: F401
    import project_2_semantic_similarity_spark.plans.q_quality  # noqa: F401
    import project_2_semantic_similarity_spark.plans.q_textlab  # noqa: F401
    import project_2_semantic_similarity_spark.plans.q_relational  # noqa: F401
    import project_2_semantic_similarity_spark.plans.q_sampling  # noqa: F401
    import project_2_semantic_similarity_spark.plans.q_streaming  # noqa: F401
    import project_2_semantic_similarity_spark.plans.q_text  # noqa: F401
    import project_2_semantic_similarity_spark.plans.q_udfs  # noqa: F401
