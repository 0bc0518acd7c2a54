"""Tests of the benchmark's own helpers; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import gen
from perfbench.oracle import TfidfOracle
from perfbench.stats import median, self_time, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _read(path):
    with open(path, "rb") as fh:
        return fh.read()


def test_gene_corpus_is_deterministic_per_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    assert gen.gene_corpus(a, 50, 7) == gen.gene_corpus(b, 50, 7)
    gen.gene_corpus(c, 50, 8)
    assert _read(a) == _read(b)
    assert _read(a) != _read(c)


def test_query_stream_is_deterministic_per_seed():
    assert gen.query_stream(3, 200) == gen.query_stream(3, 200)
    assert gen.query_stream(3, 200) != gen.query_stream(4, 200)
    mix = gen.query_stream(3, 2000)
    genes = sum(q in gen.GENE_VOCAB for q in mix)
    absent = sum(q.startswith("absent_") for q in mix)
    assert 0.7 < genes / len(mix) < 0.9
    assert 0 < absent < genes


def test_batch_snapshot_is_deterministic_per_seed(tmp_path):
    pq = pytest.importorskip("pyarrow.parquet")
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.batch_snapshot(str(tmp_path / name), seed, n_docs=60, n_vecs=40)

    def tables(d):
        return [pq.read_table(str(tmp_path / d / f"{t}.parquet"))
                for t in ("documents", "embeddings")]

    assert all(x.equals(y) for x, y in zip(tables("a"), tables("b")))
    assert not tables("a")[0].equals(tables("c")[0])


def test_median_of_no_samples_reads_zero():
    assert median([3.0, 1.0, 2.0, 4.0]) == 2.5
    assert median(x for x in ()) == 0.0


def test_self_time_is_wall_minus_union_of_children():
    # overlapping [1,3] and [2,4] cover 3 s; [6,7] one more
    assert union_length([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert self_time(0, 10, [(1, 3), (2, 4), (6, 7)]) == 6
    # nested and duplicate spans count once
    assert self_time(0, 10, [(1, 9), (2, 3), (2, 3)]) == 2
    # children reaching outside the parent are clipped
    assert self_time(5, 10, [(0, 6), (9, 20)]) == 3
    assert self_time(0, 1, []) == 1


def test_tfidf_oracle_check(tmp_path):
    path = tmp_path / "c.txt"
    path.write_text("d0 a b c\nd1 a b\nd2 c d\nd3 b d e\n")
    o = TfidfOracle(str(path))
    rank = o.ranking("a")
    assert [t for t, _ in rank][:1] == ["b"]
    assert o.check("a", rank[:2], 2)
    assert not o.check("a", rank[:1], 2)  # too short
    assert not o.check("a", list(reversed(rank[:2])), 2)  # out of order
    assert not o.check("a", [(rank[0][0], rank[0][1] + 1e-6)], 1)
    assert o.check("absent", [], 5)
    assert not o.check("absent", [("a", 1.0)], 5)


def test_emitted_metric_names_match_benchmark_json():
    from perfbench.workloads import Run, end_to_end, per_layer

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    run = Run("term_queries", 1, 1.0, False, ".")
    run.detail["host"] = {"idle_pct": 1.0, "steal_pct": 0.0}
    for key, metrics in (("end_to_end", end_to_end(run)),
                         ("per_layer", per_layer(run))):
        assert [m["name"] for m in spec[key]] == list(metrics)
        assert [m["unit"] for m in spec[key]] == [u for _, u in
                                                  metrics.values()]
