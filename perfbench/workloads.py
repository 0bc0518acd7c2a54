"""The benchmark's workloads. Both are closed loops: one client in one
process sends its next operation when the previous one has returned,
on ``local[nproc]``.

Each run sets up several times. A setup cycle starts a session (the
first one may launch the JVM, later ones restart the SparkContext
inside it), hands the engine a new snapshot, and gets the first answer
on it. ``setup_s`` is the median cycle. Writing the snapshots is the
benchmark's own work and is not timed. Then the run measures operations
for ``--seconds`` and checks every answer it kept.
"""

from __future__ import annotations

import os
import resource
import shutil
import time

from perfbench import gen
from perfbench.oracle import TfidfOracle, duck_fingerprint, frame_fingerprint
from perfbench.stats import median
from perfbench.tracer import Span, Tracer, cpu_times, host_shares, vm_hwm_mb

# Setup cycles per run. A term cycle builds an index (seconds); a batch
# cycle is a session restart and one query (about a second), so the
# batch takes more of them for a steady median.
TERM_SETUP_CYCLES = 3
BATCH_SETUP_CYCLES = 7
TOP_K = 5
N_DOCS = 2000
# Untimed queries between setup and measurement: the driver-side
# planning code is still being JIT-compiled over the first few dozen
# queries of a session, and timing that transient made the median
# depend on how fast compilation happened to go.
WARMUP_QUERIES = 15
# The term every refresh answers first: the flagship's query term.
REFRESH_QUERY = "gene_g0_gene"
# Size of the batch workload's warm-up snapshot (documents, vectors).
WARMUP_DOCS = 500
WARMUP_VECS = 500
# The batch: one registry query per operator family that the term
# workload never touches (quality filter, exact/minhash/cluster dedup,
# embedding dedup, IVF-PQ kNN, BPE tokenizer), in a fixed order.
BATCH = ("text_quality_score", "dedup_exact", "dedup_minhash",
         "dedup_clusters", "dedup_embedding_cosine", "knn_ivf_pq",
         "text_bpe_tokenize_10k")


class Run:
    """State of one benchmark run: session, tracer, timings, errors."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, workdir: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.workdir = workdir
        self.tracer = Tracer(trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup_cycles: list[float] = []
        self.op_walls: list[float] = []
        self.detail: dict = {}
        self.peak_rss_mb = 0.0

    def start_session(self) -> None:
        from project_2_semantic_similarity_spark.session import get_spark

        with self.tracer.span("session.start"):
            # The console progress bar only redraws stderr; it is off
            # so that its polling thread is not part of any timing.
            self.spark = get_spark(
                "perfbench",
                extra_conf={"spark.ui.showConsoleProgress": "false"})
        self.tracer.bind(self.spark)

    def stop_session(self) -> None:
        from project_2_semantic_similarity_spark.operators.cache import (
            clear_slots)

        self.tracer.unbind()
        clear_slots()
        self.spark.stop()
        self.spark = None

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)

    def finish(self) -> None:
        """Read peak memory while the JVM is still up."""
        self.peak_rss_mb = (vm_hwm_mb(self.tracer.jvm_pid)
                            + resource.getrusage(
                                resource.RUSAGE_SELF).ru_maxrss / 1024.0)
        if self.tracer.cache is not None:
            self.detail["memo_entries"] = self.tracer.cache.memo_entries()
        self.detail["persisted_mb"] = (self.tracer.persisted_mb()
                                       if self.tracer.enabled else None)

    def setup(self, cycles: int, make_snapshot, first_answer) -> list:
        """Write one snapshot per setup cycle, then run the cycles;
        returns each cycle's snapshot and first answer."""
        paths = []
        for c in range(cycles):
            with self.tracer.span("gen") as g:
                paths.append(make_snapshot(c))
            g.attrs["input_mb"] = gen.size_mb(paths[-1])
        out = []
        for c, path in enumerate(paths):
            if self.spark is not None:
                self.stop_session()
            with self.tracer.span("setup.cycle", cycle=c) as cyc:
                self.start_session()
                out.append((path, first_answer(path)))
            self.setup_cycles.append(cyc.wall)
        return out

    def measure(self, op) -> None:
        """Call ``op(i)`` in a closed loop for ``seconds``: the first
        operation always runs, and another starts only if one more of
        the last one's length still ends inside the window, so a pass
        longer than half the window is measured exactly once whatever
        the host's speed. Keeps the walls of the operations that
        succeeded."""
        stat0 = cpu_times()
        start = time.perf_counter()
        i = 0
        last = 0.0
        while i == 0 or time.perf_counter() - start + last <= self.seconds:
            with self.tracer.span("op", n=i) as sp:
                ok = op(i)
            if ok:
                self.op_walls.append(sp.wall)
            last = sp.wall
            i += 1
        self.detail["measured_s"] = time.perf_counter() - start
        self.detail["host"] = host_shares(stat0, cpu_times())


# ------------------------------------------------------------ term_queries

def term_queries(run: Run) -> None:
    """Warm term queries against an index built once per snapshot."""
    from project_2_semantic_similarity_spark.operators.text import (
        term_similarity_pipeline)
    from project_2_semantic_similarity_spark.sources import read_text_corpus

    tr = run.tracer
    corpus = None

    def ask(query: str, path: str):
        with tr.span("text.call"):
            df = term_similarity_pipeline(corpus, query, k=TOP_K,
                                          cache_key=("perfbench", path))
        with tr.span("text.collect"):
            return [(r.term, r.similarity) for r in df.collect()]

    def make_snapshot(c: int) -> str:
        path = os.path.join(run.workdir, f"corpus-{c}.txt")
        gen.gene_corpus(path, N_DOCS, run.seed * 100 + c)
        return path

    def first_answer(path: str):
        nonlocal corpus
        with tr.span("refresh"):
            with tr.span("sources.read"):
                corpus = read_text_corpus(run.spark, path)
            return ask(REFRESH_QUERY, path)

    firsts = run.setup(TERM_SETUP_CYCLES, make_snapshot, first_answer)
    path = firsts[-1][0]
    queries = gen.query_stream(run.seed, 100_000)
    answers: list[tuple[str, object]] = []

    def op(i: int) -> bool:
        try:
            answers.append((queries[i], ask(queries[i], path)))
            return True
        except Exception as exc:  # counted, the loop goes on
            run.record(False, f"{queries[i]}: {exc!r}"[:300])
            return False

    t0 = time.perf_counter()
    for i in range(WARMUP_QUERIES):
        with tr.span("warmup"):
            op(i)
    run.detail["warmup_s"] = time.perf_counter() - t0
    queries = queries[WARMUP_QUERIES:]

    run.measure(op)
    run.finish()

    # Check every answer after timing: first answers of each snapshot,
    # then the measured queries.
    t0 = time.perf_counter()
    for snap, rows in firsts:
        run.record(TfidfOracle(snap).check(REFRESH_QUERY, rows, TOP_K),
                   f"refresh {os.path.basename(snap)}: wrong top-k")
    oracle = TfidfOracle(path)
    for q, rows in answers:
        run.record(oracle.check(q, rows, TOP_K), f"{q}: wrong top-k")
    run.detail["distinct_queries"] = len({q for q, _ in answers})
    run.detail["check_s"] = time.perf_counter() - t0


# ------------------------------------------------------------ dedup_knn_batch

def dedup_knn_batch(run: Run) -> None:
    """A fixed sequence of registry queries to the noop sink, one pass
    per fresh copy of the snapshot: a new path is a new content key,
    so every pass pays its own index, codebook and candidate builds.

    After the JVM launch, a warm-up pass over a small snapshot from the
    same generator compiles the code every query runs and is collected
    for the oracle check; it is small because the first run of each
    query costs seconds whatever the input, and DuckDB's check of
    ``dedup_clusters`` grows fast with it. The setup cycles then run on
    a warm JVM, each a session restart and a first answer on a fresh
    copy of the full-size snapshot."""
    from project_2_semantic_similarity_spark.plans import registry

    registry.load_all()
    tr = run.tracer
    base = os.path.join(run.workdir, "snapshot")
    small = os.path.join(run.workdir, "warmup")
    with tr.span("gen") as g:
        gen.batch_snapshot(base, run.seed)
    g.attrs["input_mb"] = gen.size_mb(base)
    gen.batch_snapshot(small, run.seed, WARMUP_DOCS, WARMUP_VECS)
    # (query, snapshot the answer came from, answer)
    collected: list[tuple[str, str, object]] = []

    def fresh_copy(name: str) -> str:
        path = os.path.join(run.workdir, name)
        shutil.copytree(base, path)
        return path

    run.start_session()
    t0 = time.perf_counter()
    for q in BATCH:
        with tr.span(f"warmup.{q}"):
            try:
                pdf = registry.QUERIES[q](run.spark, small).toPandas()
            except Exception as exc:
                run.record(False, f"warm-up {q}: {exc!r}"[:300])
                continue
        collected.append((q, small, pdf))
    run.detail["warmup_s"] = time.perf_counter() - t0

    def first_answer(path: str):
        with tr.span("first_answer"):
            pdf = registry.QUERIES[BATCH[0]](run.spark, path).toPandas()
        # Every copy holds the files of ``base``.
        collected.append((BATCH[0], base, pdf))

    run.setup(BATCH_SETUP_CYCLES, lambda c: fresh_copy(f"setup-{c}"),
              first_answer)

    def op(i: int) -> bool:
        # Copying the snapshot is the hand-over, outside the pass.
        copy = fresh_copy(f"pass-{i}")
        ok = True
        for q in BATCH:
            try:
                with tr.span(f"plans.{q}.build"):
                    df = registry.QUERIES[q](run.spark, copy)
                with tr.span(f"plans.{q}.exec"):
                    df.write.format("noop").mode("overwrite").save()
                run.record(True, q)
            except Exception as exc:  # counted, the pass goes on
                run.record(False, f"pass {i} {q}: {exc!r}"[:300])
                ok = False
        return ok

    run.measure(op)
    run.finish()

    t0 = time.perf_counter()
    wants: dict[tuple[str, str], object] = {}
    for q, src, pdf in collected:
        if (q, src) not in wants:
            try:
                wants[q, src] = duck_fingerprint(registry.ORACLES[q], src)
            except Exception as exc:  # an oracle that fails is a failed check
                wants[q, src] = repr(exc)
        got, want = frame_fingerprint(pdf), wants[q, src]
        run.record(got == want, f"{q} on {os.path.basename(src)}: "
                                f"spark {got} != duckdb {want}")
    run.detail["check_s"] = time.perf_counter() - t0


WORKLOADS = {"term_queries": term_queries,
             "dedup_knn_batch": dedup_knn_batch}


# ------------------------------------------------------------ metrics

def end_to_end(run: Run) -> dict[str, tuple[float, str]]:
    return {
        "setup_s": (median(run.setup_cycles), "s"),
        "op_p50_s": (median(run.op_walls), "s"),
        "peak_rss_mb": (run.peak_rss_mb, "MB"),
    }


def _subtree(tr: Tracer, sp: Span) -> list[Span]:
    out, todo = [], [sp]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(tr.children(s))
    return out


def per_layer(run: Run) -> dict[str, tuple[float, str]]:
    """Per-layer numbers of a traced run. Per-operation values are
    medians over the measured operations (a term query, or a batch
    pass); setup values are medians over the setup cycles. A layer
    the workload does not use reads 0."""
    tr = run.tracer
    ops = tr.find("op")

    def wall(name: str) -> float:
        return median(s.wall for s in tr.find(name))

    def op_med(key: str) -> float:
        return median(o.counts.get(key, 0) for o in ops)

    op_ids = {s.id for o in ops for s in _subtree(tr, o)}

    def in_ops(name: str) -> list[Span]:
        return [s for s in tr.find(name) if s.id in op_ids]

    hits = sum(o.counts.get("cache_hits", 0) for o in ops)
    builds = sum(o.counts.get("cache_builds", 0) for o in ops)
    starts = tr.find("session.start")
    m = {
        "session.launch_s": (starts[0].wall if starts else 0.0, "s"),
        "session.start_s": (wall("session.start"), "s"),
        "sources.input_mb": (median(s.attrs["input_mb"]
                                    for s in tr.find("gen")), "MB"),
        "sources.read_s": (wall("sources.read"), "s"),
        "text.call_s": (median(s.wall for s in in_ops("text.call")), "s"),
        "text.collect_s": (median(s.wall for s in in_ops("text.collect")),
                           "s"),
        "text.build_s": (wall("refresh"), "s"),
        "cache.hits": (op_med("cache_hits"), "count"),
        "cache.builds": (op_med("cache_builds"), "count"),
        "cache.hit_ratio": (hits / (hits + builds) if hits + builds else 0.0,
                            "ratio"),
        "cache.refresh_builds": (median(s.counts.get("cache_builds", 0)
                                        for s in tr.find("refresh")),
                                 "count"),
        "cache.persisted_mb": (run.detail.get("persisted_mb") or 0.0, "MB"),
        "cache.memo_entries": (run.detail.get("memo_entries", 0), "count"),
        "spark.jobs": (op_med("jobs"), "count"),
        "spark.stages": (op_med("stages"), "count"),
        "spark.tasks": (op_med("tasks"), "count"),
        "spark.executor_run_s": (op_med("run_s"), "s"),
        "spark.executor_cpu_s": (op_med("cpu_s"), "s"),
        "spark.gc_s": (op_med("gc_s"), "s"),
        "spark.shuffle_write_mb": (op_med("shuffle_write_mb"), "MB"),
        "spark.shuffle_read_mb": (op_med("shuffle_read_mb"), "MB"),
        "spark.spill_mb": (op_med("spill_mb"), "MB"),
        "driver.self_s": (median(o.driver_self_s() for o in ops), "s"),
        "pyworker.cpu_s": (op_med("pyworker_cpu_s"), "s"),
        "trace.overhead_s": (median(sum(s.counts.get("tracer_s", 0)
                                        for s in _subtree(tr, o))
                                    for o in ops), "s"),
        "trace.op_s": (median(o.wall for o in ops), "s"),
        "host.idle_pct": (run.detail["host"]["idle_pct"], "%"),
        "host.steal_pct": (run.detail["host"]["steal_pct"], "%"),
    }
    for q in BATCH:
        for part in ("build", "exec"):
            spans = in_ops(f"plans.{q}.{part}")
            m[f"plans.{q}.{part}_s"] = (median(s.wall for s in spans), "s")
            m[f"plans.{q}.{part}_jobs"] = (
                median(s.counts.get("jobs", 0) for s in spans), "count")
    return m


def detail(run: Run) -> dict:
    """Context printed beside the result: sample counts, the setup
    cycles, host idle and steal, errors."""
    return {
        "workload": run.workload,
        "seed": run.seed,
        "trace": run.tracer.enabled,
        "op_samples": len(run.op_walls),
        "setup_samples": len(run.setup_cycles),
        "setup_cycles_s": run.setup_cycles,
        "incomplete_jobs": sum(s.counts.get("incomplete_jobs", 0)
                               for s in run.tracer.spans
                               if s.parent is None),
        "errors": run.errors,
        **run.detail,
    }
