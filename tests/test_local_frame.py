"""Driver-built relations: ``session.local_frame`` plans as a
LocalRelation (reading it back runs no Spark job)."""

from __future__ import annotations

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

