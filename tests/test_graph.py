"""Connected-components / dedup-clusters operator tests (ADVICE r3:
the transitive-closure semantics need direct coverage, including
string ids where lexicographic and numeric order disagree)."""

from __future__ import annotations

import pytest

from project_2_semantic_similarity_spark.operators import graph
from project_2_semantic_similarity_spark.operators.graph import (
    connected_components,
    dedup_clusters,
    pagerank_weighted,
)


def test_chain_collapses_transitively_numeric(spark):
    """a~b, b~c with no a~c pair must land in ONE component with the
    numeric-min representative — the case one-hop suppression
    (dedup_pipeline) cannot express."""
    pairs = spark.createDataFrame(
        [(10, 2), (10, 30), (7, 5)], "doc_a long, doc_b long")
    comp = {r.node: r.component_id
            for r in connected_components(pairs).collect()}
    assert comp == {2: 2, 10: 2, 30: 2, 5: 5, 7: 5}


def test_string_ids_use_lexicographic_min(spark):
    """String node ids are first-class (corpus doc_ids are strings in
    the text-corpus shape): the representative is the min under the
    column's natural ordering — for strings that is LEXICOGRAPHIC
    ('10' < '2'), and convergence must not assume numeric labels
    (round-3 ADVICE: sum-based convergence broke on exactly this)."""
    pairs = spark.createDataFrame(
        [("2", "10"), ("10", "30"), ("x", "y")],
        "doc_a string, doc_b string")
    comp = {r.node: r.component_id
            for r in connected_components(pairs).collect()}
    assert comp == {"2": "10", "10": "10", "30": "10", "x": "x", "y": "x"}


def test_dedup_clusters_sizes_and_membership(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (9, 8)], "doc_a long, doc_b long")
    rows = dedup_clusters(pairs).collect()
    got = {r.doc_id: (r.component_id, r.component_size) for r in rows}
    assert got == {1: (1, 4), 2: (1, 4), 3: (1, 4), 4: (1, 4),
                   8: (8, 2), 9: (8, 2)}


def test_raises_rather_than_partial_labeling(spark):
    """A diameter larger than max_rounds must raise — never silently
    return a partially-merged labeling."""
    chain = [(i, i + 1) for i in range(1, 8)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_rounds=2)


@pytest.mark.parametrize("rows, ddl", [
    ([(10, 2), (10, 30), (7, 5), (1, 2), (2, 3), (3, 4), (9, 8)],
     "doc_a long, doc_b long"),
    ([("2", "10"), ("10", "30"), ("x", "y"), ("é", "z")],
     "doc_a string, doc_b string"),
    ([], "doc_a long, doc_b long"),
], ids=["numeric_chain", "string_ids", "empty"])
def test_dedup_clusters_local_matches_distributed(
        spark, monkeypatch, rows, ddl):
    """The driver-side labelling must answer exactly as the
    distributed min-label loop does: same nodes, same representative
    under the column's ordering ('10' < '2' for strings, code point
    order past ASCII), same sizes, same schema — also with no pairs."""
    pairs = spark.createDataFrame(rows, ddl)
    local = dedup_clusters(pairs)
    assert local._jdf.queryExecution().optimizedPlan().nodeName() \
        == "LocalRelation"
    monkeypatch.setattr(graph, "CC_LOCAL_MAX_EDGES", 0)
    dist = dedup_clusters(pairs)
    assert local.schema == dist.schema
    got = sorted(map(tuple, local.collect()))
    assert got == sorted(map(tuple, dist.collect()))
    assert bool(got) == bool(rows)


def test_dedup_clusters_jobs_cold_and_warm(spark, sf_dir,
                                           run_counting_jobs):
    """The corpus's near-dup pair graph is labelled on the driver: a
    cold plan build + collect of dedup_clusters runs the shingle and
    pair jobs plus one collect, and a warm one reads its memoized
    LocalRelation with no job at all."""
    from project_2_semantic_similarity_spark.operators.cache import (
        clear_slots)
    from project_2_semantic_similarity_spark.plans.registry import (
        QUERIES, load_all)

    load_all()
    clear_slots()

    def run():
        return sorted(map(tuple, QUERIES["dedup_clusters"](
            spark, sf_dir).collect()))

    cold, cold_jobs = run_counting_jobs("dedup-clusters-cold", run)
    warm, warm_jobs = run_counting_jobs("dedup-clusters-warm", run)
    assert cold and warm == cold
    assert cold_jobs <= 15
    assert warm_jobs == 0


def _fail_on_call(monkeypatch, cls, name, call, before):
    """Make ``cls.name`` run ``before(self)`` and then raise on its
    ``call``-th call (1-based); other calls run the real method."""
    real = getattr(cls, name)
    calls = []

    def fake(self, *args, **kwargs):
        calls.append(1)
        if len(calls) == call:
            before(self)
            raise RuntimeError("injected failure")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, name, fake)


def test_connected_components_releases_edges_when_first_checkpoint_fails(
        spark, monkeypatch):
    """If the first label checkpoint raises after its input (the
    persisted edge relation) was materialized, the edges must still be
    released."""
    sc = spark.sparkContext
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "doc_a long, doc_b long")
    before = len(sc._jsc.getPersistentRDDs())
    _fail_on_call(monkeypatch, type(pairs), "localCheckpoint", 1,
                  before=lambda df: df.count())
    with pytest.raises(RuntimeError, match="injected failure"):
        connected_components(pairs)
    monkeypatch.undo()
    assert len(sc._jsc.getPersistentRDDs()) == before


def test_pagerank_releases_every_round_when_a_round_fails(
        spark, monkeypatch):
    """A round that raises after materializing its ranks must not leak
    the edge, node or rank relations."""
    sc = spark.sparkContext
    wedges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 0.5), (2, 1, 0.5), (3, 2, 1.0)],
        "src long, dst long, w double")
    before = len(sc._jsc.getPersistentRDDs())
    real_count = type(wedges).count
    _fail_on_call(monkeypatch, type(wedges), "count", 2,
                  before=real_count)
    with pytest.raises(RuntimeError, match="injected failure"):
        pagerank_weighted(wedges, n_iters=3)
    monkeypatch.undo()
    assert len(sc._jsc.getPersistentRDDs()) == before


def test_keyed_persist_slot_is_session_scoped(spark):
    """Replacement slots fold the session's applicationId into the
    stored key (ADVICE r4: a stopped-and-recreated session in the
    same process must rebuild, not serve a dead-session DataFrame):
    a same-key call is a hit; tampering the stored app id must force
    a rebuild."""
    from project_2_semantic_similarity_spark.operators import cache

    df = cache.keyed_persist("t_scope", ("k1",), lambda: spark.range(3))
    app = spark.sparkContext.applicationId
    assert cache._SLOTS["t_scope"][0] == (("k1",), app)
    # same key, same session -> hit (builder not invoked)
    assert cache.keyed_persist(
        "t_scope", ("k1",),
        lambda: (_ for _ in ()).throw(AssertionError("rebuilt"))) is df
    # stale app id (simulated dead session) -> rebuild
    cache._SLOTS["t_scope"] = ((("k1",), "app-dead"), df)
    df2 = cache.keyed_persist("t_scope", ("k1",), lambda: spark.range(4))
    assert df2 is not df
    df2.unpersist()
    del cache._SLOTS["t_scope"]


def test_no_leaked_cache_entries(spark):
    """The operator must release every per-round persisted relation
    it created (round-3 ADVICE: the labels relation leaked). The one
    allowed survivor is the localCheckpoint backing the RESULT —
    that is the result's own storage, released when the returned
    DataFrame is garbage-collected, and its count stays 1 no matter
    how many propagation rounds ran."""
    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs())
    # 3-chain: needs several rounds, each persisting a label relation
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "doc_a long, doc_b long")
    connected_components(pairs).collect()
    after = len(sc._jsc.getPersistentRDDs())
    assert after <= before + 1


def test_triangle_count_degree_ordered_literal(spark, tmp_path):
    """Degree-ordered triangle counting (r9: Suri-Vassilvitskii
    orientation replaced the id-ordered baseline) on a hand-built
    co-purchase graph: order 1 makes K4 over parts 1-4 (4 triangles,
    every corner in 3), order 2 adds a pendant edge 4-5 and order 3
    a disconnected pair 6-7 (no new triangles). The degree
    re-orientation must neither lose nor double-count any triangle."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from project_2_semantic_similarity_spark.plans.registry import (
        QUERIES, load_all)

    load_all()
    d = str(tmp_path)
    rows = ([(1, p) for p in (1, 2, 3, 4)]
            + [(2, 4), (2, 5)]
            + [(3, 6), (3, 7)])
    pq.write_table(
        pa.table({"l_orderkey": pa.array([r[0] for r in rows],
                                         pa.int64()),
                  "l_partkey": pa.array([r[1] for r in rows],
                                        pa.int64())}),
        f"{d}/lineitem.parquet")
    got = {r.l_partkey: r.n_triangles
           for r in QUERIES["graph_triangle_count"](spark, d).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_edges_follow_an_in_place_lineitem_rewrite(
        spark, sf_dir, tmp_path):
    """graph_triangle_count persists its oriented edges in a slot keyed
    on the lineitem snapshot: after lineitem is rewritten in place
    with a row subset, the next call must rebuild the edges and answer
    as a fresh build does, not serve the old snapshot's triangles."""
    import shutil

    import pyarrow.parquet as pq

    from project_2_semantic_similarity_spark.operators.cache import (
        clear_slots)
    from project_2_semantic_similarity_spark.plans.registry import (
        QUERIES, load_all)

    load_all()
    d = str(tmp_path)
    path = f"{d}/lineitem.parquet"
    shutil.copyfile(f"{sf_dir}/lineitem.parquet", path)

    def triangles():
        return sorted(map(tuple, QUERIES["graph_triangle_count"](
            spark, d).collect()))

    before = triangles()
    table = pq.read_table(path)
    pq.write_table(table.slice(0, table.num_rows // 3), path)
    after_rewrite = triangles()
    clear_slots()
    fresh = triangles()
    assert fresh != before  # the subset changes the answer
    assert after_rewrite == fresh
