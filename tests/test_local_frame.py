"""Driver-built relations: ``session.local_frame`` plans as a
LocalRelation (reading it back runs no Spark job), and the module memo
dicts' FIFO bound evicts only on a new key."""

from __future__ import annotations

from project_2_semantic_similarity_spark.operators.similarity import (
    _bounded_put)
from project_2_semantic_similarity_spark.session import local_frame

_SCHEMA = "i int, n long, s string, v array<double>"


def test_local_frame_is_a_local_relation_read_with_no_job(
        spark, run_counting_jobs):
    rows = [(1, 2 ** 40, "a", [1.0, -2.5]),
            (2, None, None, None),
            (3, -7, "", [])]
    df = local_frame(spark, rows, _SCHEMA)
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "LocalRelation"
    got, n_jobs = run_counting_jobs("local-frame-collect", df.collect)
    assert n_jobs == 0
    assert [tuple(r) for r in got] == rows
    assert df.schema.simpleString() == (
        "struct<i:int,n:bigint,s:string,v:array<double>>")


def test_local_frame_empty_rows(spark, run_counting_jobs):
    df = local_frame(spark, [], _SCHEMA)
    assert df._jdf.queryExecution().optimizedPlan().nodeName() \
        == "LocalRelation"
    got, n_jobs = run_counting_jobs("local-frame-empty", df.collect)
    assert got == [] and n_jobs == 0
    assert [f.name for f in df.schema.fields] == ["i", "n", "s", "v"]


def test_bounded_put_overwrite_at_cap_keeps_other_keys():
    cache: dict = {}
    for i in range(4):
        _bounded_put(cache, i, f"v{i}", cap=4)
    _bounded_put(cache, 2, "new", cap=4)
    assert cache == {0: "v0", 1: "v1", 2: "new", 3: "v3"}
    # a NEW key at the cap still evicts the oldest insertion
    _bounded_put(cache, 9, "v9", cap=4)
    assert cache == {1: "v1", 2: "new", 3: "v3", 9: "v9"}
