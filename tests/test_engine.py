"""Facade and CLI entry-point tests (SURVEY.md §3.4): the builder
API, the SQL path, and the reference-format CLI output."""

from __future__ import annotations

from project_2_semantic_similarity_spark import Engine


CORPUS = """\
d1 spark join hash join
d2 spark filter scan
d3 join merge hash
"""


def test_builder_api(spark, tmp_path):
    p = tmp_path / "c.txt"
    p.write_text(CORPUS)
    eng = Engine(spark)
    out = eng.corpus(str(p)).similar_terms("join", k=3).collect()
    assert out and all(r.similarity <= 1.0 + 1e-9 for r in out)
    w = eng.corpus(str(p)).tfidf()
    assert set(w.columns) == {"doc_id", "term", "tfidf"}


def test_corpus_from_dataframe(spark):
    # 'c' co-occurs with nothing informative in doc 1 (a/b have idf 0,
    # d shares no doc) -> empty, pinned exactly
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], ["doc_id", "text"])
    out = Engine(spark).corpus(df).similar_terms("c", k=5).collect()
    assert out == []
    # positive case: x and y co-occur in doc 3 only -> sim(x,y) = 1
    df2 = spark.createDataFrame(
        [(1, "a b"), (2, "a c"), (3, "x y")], ["doc_id", "text"])
    out2 = Engine(spark).corpus(df2).similar_terms("x", k=5).collect()
    assert [r.term for r in out2] == ["y"]
    assert abs(out2[0].similarity - 1.0) < 1e-9


def test_corpus_reuses_its_term_index(spark, tmp_path, monkeypatch):
    """Queries on one Corpus build its term index once; the answers
    equal those of a fresh, unkeyed pipeline run."""
    from project_2_semantic_similarity_spark.operators import text as T

    p = tmp_path / "c.txt"
    p.write_text(CORPUS)
    corpus = Engine(spark).corpus(str(p))
    expected = {
        q: T.term_similarity_pipeline(corpus.df, q, k=3).collect()
        for q in ("join", "spark")}

    builds = []
    build_index = T.term_index

    def counting_term_index(*args, **kwargs):
        builds.append(args)
        return build_index(*args, **kwargs)

    monkeypatch.setattr(T, "term_index", counting_term_index)
    for q in ("join", "spark"):
        assert corpus.similar_terms(q, k=3).collect() == expected[q]
    assert len(builds) == 1


def test_cli_rejects_bad_k():
    from project_2_semantic_similarity_spark.engine import main

    assert main(["join", "/nonexistent.txt", "five"]) == 2


def test_sql_entry(spark, sf_dir):
    eng = Engine(spark)
    eng.register_views(sf_dir)
    n = eng.sql("SELECT count(*) AS n FROM nation").collect()[0].n
    assert n == 25


def test_cli_reference_output_format(spark, tmp_path, capsys):
    from project_2_semantic_similarity_spark.engine import main

    p = tmp_path / "c.txt"
    p.write_text(CORPUS)
    rc = main(["join", str(p), "3"])
    assert rc == 0
    out = capsys.readouterr().out
    lines = [ln for ln in out.splitlines() if ln.strip()]
    assert lines, out
    for ln in lines:
        # reference app.py:178 format: term left-padded to 50 chars
        assert ln[:50].rstrip().isidentifier() or " " in ln[:50]
        float(ln[50:])  # similarity parses


def test_cli_usage_error():
    from project_2_semantic_similarity_spark.engine import main

    assert main(["only-one-arg"]) == 2


def test_scratch_root_is_private_and_env_overridable(tmp_path, monkeypatch):
    """All local staging routes through scratch_path: per-user 0700
    root by default, $P2SS_SCRATCH_DIR override for deployments."""
    import os
    import stat

    from project_2_semantic_similarity_spark import scratch

    monkeypatch.delenv("P2SS_SCRATCH_DIR", raising=False)
    root = scratch.scratch_root()
    assert stat.S_IMODE(os.stat(root).st_mode) == 0o700
    assert scratch.scratch_path("a", "b") == os.path.join(root, "a", "b")

    override = tmp_path / "sc"
    monkeypatch.setenv("P2SS_SCRATCH_DIR", str(override))
    assert scratch.scratch_root() == str(override)
    assert override.is_dir()


def test_scratch_root_mode_bits_warn_vs_raise(tmp_path, monkeypatch):
    """Residual group/other bits (a chmod-ignoring mount) hard-fail
    for the default tmp-derived root but only warn when the user
    explicitly chose the path via $P2SS_SCRATCH_DIR."""
    import os
    import warnings

    import pytest

    from project_2_semantic_similarity_spark import scratch

    monkeypatch.setattr(os, "chmod", lambda *a, **k: None)

    chosen = tmp_path / "shared"
    chosen.mkdir(mode=0o755)
    monkeypatch.setenv("P2SS_SCRATCH_DIR", str(chosen))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert scratch.scratch_root() == str(chosen)
    assert any("group/other" in str(w.message) for w in caught)

    monkeypatch.delenv("P2SS_SCRATCH_DIR", raising=False)
    tmpbase = tmp_path / "tmp"
    tmpbase.mkdir()
    default = tmpbase / f"p2ss-{os.getuid()}"
    default.mkdir(mode=0o755)
    monkeypatch.setattr(scratch.tempfile, "gettempdir",
                        lambda: str(tmpbase))
    with pytest.raises(RuntimeError, match="group/other"):
        scratch.scratch_root()
