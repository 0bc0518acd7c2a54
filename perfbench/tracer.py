"""Spans around the benchmark's calls into the engine, and the per-layer
counters read at their boundaries.

Every span records its wall time. With tracing on, a span also
- tags the Spark jobs it starts (``SparkContext.addJobTag``), and on
  exit reads those jobs' stages from Spark's status store: jobs,
  stages, tasks, executor run/CPU/GC time, shuffle and spill bytes,
  and each job's submit/complete time. The store keeps only the last
  1000 jobs, so it is read when each span ends, never at the end of
  the run, after the listener bus that feeds it has drained;
- diffs the CPU time of the Python worker processes under the JVM
  (``/proc``), which the JVM's executor CPU time does not include;
- diffs lookup and store counts of the engine's memo dicts (the
  ``operators.cache`` slots and the module-level memos), installed by
  ``CacheCounters``.

Spans are kept in memory and written out when the run ends. The time
the tracer spends on its own reads is recorded per span, so a traced
run reports its own overhead.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from perfbench.stats import self_time

# Read from the status store per job; a parent span sums its children.
JOB_COUNTERS = ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
                "incomplete_jobs")
# How long a span's end waits for Spark's listener bus to drain.
DRAIN_TIMEOUT_MS = 60_000
COUNTERS = JOB_COUNTERS + ("pyworker_cpu_s", "cache_hits", "cache_builds",
                           "tracer_s")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # time.time() epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)
    job_spans: list = field(default_factory=list)  # [(submit, complete)]
    job_ids: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start

    def driver_self_s(self) -> float:
        """Wall time during which none of this span's jobs ran."""
        return self_time(self.start, self.end, self.job_spans)


# ------------------------------------------------------------ /proc readers

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces; the fields after it start past ')'
    return [raw[raw.index("(") + 1:raw.rindex(")")]] + \
        raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[2]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    f = _stat_fields(pid)
    return f is not None and f[1] != "Z"


def pyworker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the Python processes below the JVM: their own
    time plus that of their children already reaped."""
    total = 0
    for pid in descendants(jvm_pid):
        f = _stat_fields(pid)
        if f is not None and f[0].startswith("python"):
            # after comm: state=1 ... utime=12 stime=13 cutime=14 cstime=15
            total += sum(int(x) for x in f[12:16])
    return total / _CLK_TCK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of ``pid`` (VmHWM) in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def host_shares(before: list[int], after: list[int]) -> dict:
    """Idle and steal shares (%) of the CPU time between two reads."""
    d = [b - a for a, b in zip(before, after)]
    tot = sum(d) or 1
    return {"idle_pct": 100.0 * (d[3] + d[4]) / tot,
            "steal_pct": 100.0 * (d[7] if len(d) > 7 else 0) / tot}


# ------------------------------------------------------------ memo counters

class CountingDict(dict):
    """A dict that counts ``get`` lookups and stores. Every memo in the
    engine looks up with ``get`` and stores on a miss, so
    hits = lookups - stores and builds = stores."""

    lookups = 0
    stores = 0

    def get(self, key, default=None):
        self.lookups += 1
        return super().get(key, default)

    def __setitem__(self, key, value):
        self.stores += 1
        super().__setitem__(key, value)


# (module, attribute) of every engine memo. The slots of
# operators/cache.py plus the module-level memo dicts; names that a
# later version of the engine no longer has are skipped.
MEMOS = (
    ("project_2_semantic_similarity_spark.operators.cache", "_SLOTS"),
    ("project_2_semantic_similarity_spark.operators.cache", "_VALUES"),
    ("project_2_semantic_similarity_spark.operators.similarity",
     "_SLOT_STATS"),
    ("project_2_semantic_similarity_spark.operators.similarity",
     "_CAND_CACHE"),
    ("project_2_semantic_similarity_spark.operators.similarity",
     "_PQ_SEED_CACHE"),
    ("project_2_semantic_similarity_spark.plans.q_dedup",
     "_CLUSTERS_CACHE"),
    ("project_2_semantic_similarity_spark.plans.q_dedup",
     "_MINHASH_VARIANT_CACHE"),
    ("project_2_semantic_similarity_spark.plans.q_dedup",
     "_CODEBOOK_CACHE"),
)
SLOT_ATTRS = ("_SLOTS", "_VALUES")


class CacheCounters:
    """Swaps each engine memo dict for a ``CountingDict`` with the same
    contents. The engine reads these names at call time, so it keeps
    working unchanged and every lookup is counted."""

    def __init__(self):
        import importlib

        self.dicts: list[tuple[str, CountingDict]] = []
        for mod_name, attr in MEMOS:
            try:
                mod = importlib.import_module(mod_name)
            except ImportError:
                continue
            cur = getattr(mod, attr, None)
            if type(cur) is dict:
                counting = CountingDict(cur)
                setattr(mod, attr, counting)
                self.dicts.append((attr, counting))

    def totals(self) -> tuple[int, int]:
        lookups = sum(d.lookups for _, d in self.dicts)
        stores = sum(d.stores for _, d in self.dicts)
        return lookups, stores

    def memo_entries(self) -> int:
        """Entries held by the module-level memos (not the slots)."""
        return sum(len(d) for a, d in self.dicts if a not in SLOT_ATTRS)


# ------------------------------------------------------------ the tracer

class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._sc = None
        self.jvm_pid: int | None = None
        self.cache: CacheCounters | None = None

    def bind(self, spark) -> None:
        """Attach to a (new) session. Spans opened while no session is
        bound record their wall time only."""
        self._sc = spark.sparkContext
        self.jvm_pid = self._sc._gateway.proc.pid
        if self.enabled and self.cache is None:
            self.cache = CacheCounters()

    def unbind(self) -> None:
        """Detach before the session is stopped."""
        self._sc = None

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name,
                  parent.id if parent else None, time.time(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        tag = f"perfbench-span-{sp.id}"
        before = None
        if self.enabled and self._sc is not None:
            t = time.perf_counter()
            self._sc.addJobTag(tag)
            before = self._probe()
            sp.counts["tracer_s"] = time.perf_counter() - t
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if before is not None:
                t = time.perf_counter()
                self._finish(sp, tag, before)
                sp.counts["tracer_s"] += time.perf_counter() - t

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    # -- internals

    def _probe(self) -> tuple[float, int, int]:
        cpu = pyworker_cpu_s(self.jvm_pid)
        lookups, stores = self.cache.totals()
        return cpu, lookups, stores

    def _finish(self, sp: Span, tag: str, before) -> None:
        sc = self._sc
        sc.removeJobTag(tag)
        # The status store is fed from the asynchronous listener bus:
        # until it has drained, the span's last job may be missing or
        # still read as running, with part of its tasks counted.
        sc._jsc.sc().listenerBus().waitUntilEmpty(DRAIN_TIMEOUT_MS)
        ids = list(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))
        cpu, lookups, stores = self._probe()
        sp.counts.update({
            "pyworker_cpu_s": cpu - before[0],
            "cache_builds": stores - before[2],
            "cache_hits": (lookups - before[1]) - (stores - before[2]),
        })
        for k in COUNTERS:
            sp.counts.setdefault(k, 0)
        # Jobs of child spans were already read when the child ended.
        kids = self.children(sp)
        seen = {j for c in kids for j in c.job_ids}
        for c in kids:
            sp.job_spans.extend(c.job_spans)
            for k in JOB_COUNTERS:
                sp.counts[k] += c.counts.get(k, 0)
        sp.job_ids = sorted(set(ids) | seen)
        store = sc._jsc.sc().statusStore()
        for jid in sorted(set(ids) - seen):
            self._read_job(store, jid, sp)

    def _read_job(self, store, jid: int, sp: Span) -> None:
        gw = self._sc._gateway
        try:
            job = store.job(jid)
        except Exception:  # evicted from the store
            return
        sp.counts["jobs"] += 1
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            sp.job_spans.append((sub.get().getTime() / 1000.0,
                                 done.get().getTime() / 1000.0))
        else:  # not finished (or never started) when the span ended
            sp.counts["incomplete_jobs"] += 1
        stage_ids = job.stageIds()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        for i in range(stage_ids.size()):
            rows = store.stageData(stage_ids.apply(i), False,
                                   gw.jvm.java.util.ArrayList(), False,
                                   no_quantiles)
            for r in range(rows.size()):
                st = rows.apply(r)
                if st.status().toString() == "SKIPPED":
                    continue
                c = sp.counts
                c["stages"] += 1
                c["tasks"] += st.numCompleteTasks()
                c["run_s"] += st.executorRunTime() / 1e3
                c["cpu_s"] += st.executorCpuTime() / 1e9
                c["gc_s"] += st.jvmGcTime() / 1e3
                c["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                c["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
                c["spill_mb"] += (st.memoryBytesSpilled()
                                  + st.diskBytesSpilled()) / 1e6

    def persisted_mb(self) -> float:
        """Memory plus disk held by persisted RDDs, from the storage
        info of the session."""
        infos = self._sc._jsc.sc().getRDDStorageInfo()
        return sum(r.memSize() + r.diskSize() for r in infos) / 1e6

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)
