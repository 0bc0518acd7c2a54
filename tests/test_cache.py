"""operators/cache.py is the package's one memo: every cross-query
memo lives in a ``_SLOTS`` entry, so ``clear_slots()`` makes the next
call rebuild (and run its Spark jobs) again."""

from __future__ import annotations

from project_2_semantic_similarity_spark.operators import cache


def test_trained_codebook_refits_after_clear_slots(
        spark, sf_dir, run_counting_jobs):
    from project_2_semantic_similarity_spark.plans.q_dedup import (
        _trained_codebook)

    (cb, k), _ = run_counting_jobs(
        "codebook-fit", lambda: _trained_codebook(spark, sf_dir))
    _, warm_jobs = run_counting_jobs(
        "codebook-warm", lambda: _trained_codebook(spark, sf_dir))
    assert warm_jobs == 0
    cache.clear_slots()
    (cb2, k2), cold_jobs = run_counting_jobs(
        "codebook-refit", lambda: _trained_codebook(spark, sf_dir))
    assert cold_jobs > 0
    assert k2 == k and sorted(cb2.collect()) == sorted(cb.collect())


def test_trained_codebook_counts_the_table_once(
        spark, sf_dir, run_counting_jobs):
    """A cold fit runs 8 jobs: the parquet schema read, ONE row count
    (two jobs under AQE) for both k and the sample denominator, and
    the 2-iteration fit's 5. Counting the table twice made it 10."""
    from project_2_semantic_similarity_spark.plans.q_dedup import (
        _trained_codebook)

    cache.clear_slots()
    _, cold_jobs = run_counting_jobs(
        "codebook-cold", lambda: _trained_codebook(spark, sf_dir))
    assert cold_jobs == 8


def test_minhash_variant_reprobes_after_clear_slots(
        spark, sf_dir, run_counting_jobs):
    from project_2_semantic_similarity_spark.plans.q_dedup import (
        ensure_minhash_variant)

    variant, _ = run_counting_jobs(
        "variant-probe", lambda: ensure_minhash_variant(spark, sf_dir))
    _, warm_jobs = run_counting_jobs(
        "variant-warm", lambda: ensure_minhash_variant(spark, sf_dir))
    assert warm_jobs == 0
    cache.clear_slots()
    again, cold_jobs = run_counting_jobs(
        "variant-reprobe", lambda: ensure_minhash_variant(spark, sf_dir))
    assert cold_jobs > 0 and again == variant


def test_blocked_pair_memos_are_slots_and_clear_slots_empties_them(
        spark, sf_dir):
    from project_2_semantic_similarity_spark.operators import (
        similarity as S)
    from project_2_semantic_similarity_spark.sources import load_table

    e = load_table(spark, sf_dir, "embeddings")
    cents = S.label_centroids(e)
    S.cosine_pairs_blocked(e, 0.45, cents, cache_key=("t_cache", 1),
                           codebook_key="labels").count()
    S.cosine_pairs_blocked_gemm(e, 0.45, cents, cache_key=("t_cache", 1),
                                codebook_key="labels").count()
    assert {"blocked_assigned", "blocked_assigned_cand",
            "blocked_gemm_assigned", "blocked_gemm_assigned_cand",
            "blocked_gemm_assigned_stats"} <= set(cache._SLOTS)
    cache.clear_slots()
    assert cache._SLOTS == {}


def test_keyed_value_replacement_releases_persisted_entry(spark):
    first = cache.keyed_persist("t_release", "a", lambda: spark.range(3))
    assert first.storageLevel.useMemory
    assert cache.keyed_persist("t_release", "a", lambda: 1 / 0) is first
    second = cache.keyed_persist("t_release", "b", lambda: spark.range(4))
    assert second is not first
    assert not first.storageLevel.useMemory
    # key None: no reuse identity, rebuilt on every call
    calls = []
    for _ in range(2):
        cache.keyed_value("t_release_none", None,
                          lambda: calls.append(1) or len(calls))
    assert calls == [1, 1]
    cache.clear_slots()
    assert not second.storageLevel.useMemory


def test_keyed_gate_probes_once_per_key(spark, run_counting_jobs):
    rows = spark.range(10)
    assert "t_gate" not in cache._SLOTS
    cold, cold_jobs = run_counting_jobs(
        "gate-cold", lambda: cache.gate("t_gate", "k", rows, 10))
    warm, warm_jobs = run_counting_jobs(
        "gate-warm", lambda: cache.gate("t_gate", "k", rows, 10))
    assert cold and warm and cold_jobs > 0 and warm_jobs == 0
    # the bound is part of the key: a new bound probes again
    assert not cache.gate("t_gate", "k", rows, 9)
    cache.clear_slots()


def test_unkeyed_gate_probes_on_every_call(spark, run_counting_jobs):
    rows = spark.range(10)
    jobs = [run_counting_jobs(
        f"gate-none-{i}", lambda: cache.gate("t_gate_none", None, rows, 3))
        for i in range(2)]
    assert [answer for answer, _ in jobs] == [False, False]
    assert all(n > 0 for _, n in jobs)
    cache.clear_slots()


def test_gate_probe_is_limit_bounded(spark, run_counting_jobs):
    """10^12 rows would take hours to count; the probe reads at most
    bound + 1 of them, in as many jobs as the probe of a 10-row
    relation."""
    small, small_jobs = run_counting_jobs(
        "gate-small", lambda: cache.gate("t_gate_big", None,
                                         spark.range(10), 5))
    big, big_jobs = run_counting_jobs(
        "gate-big", lambda: cache.gate("t_gate_big", None,
                                       spark.range(10**12), 5))
    assert not small and not big
    assert big_jobs == small_jobs
    assert cache._SLOTS["t_gate_big"][1] == 6  # the stored min(n, b + 1)
    cache.clear_slots()
