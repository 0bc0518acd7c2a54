"""Session-scoped memo slots: the package's one cross-query memo.

Each logical memo gets a named SLOT holding at most ONE entry, stored
as ``_SLOTS[slot] = ((key, applicationId), value)``:

- a call with the same key in the same Spark application is a hit and
  returns the stored value without running the builder;
- a different key, or a different application (a stopped and
  recreated session in the same process), rebuilds and replaces the
  entry;
- ``key=None`` means "no reuse identity": rebuild every time, still
  replacing the previous entry.

``keyed_persist`` slots hold persisted DataFrames (the tf-idf weights,
minhash signatures, blocked-join assignments); the entry a rebuild
replaces is unpersisted, so a slot never holds more than one cached
relation. ``keyed_value`` slots hold driver-side values: probe counts,
collected codebooks, candidate cluster pairs, localCheckpoint-backed
results. Keys carry the source snapshot's fingerprint, so a relation
is built once per snapshot and replaced, not accumulated, when the
snapshot changes. ``clear_slots`` empties every slot.

``gate`` is the one strategy gate: operators that pick between two
exact plans by the size of an input measure it with a LIMIT-bounded
count through a ``keyed_value`` slot and compare it with a module
constant beside the operator.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable

from pyspark.sql import DataFrame

_SLOTS: dict[str, tuple[tuple[Hashable, str | None], object]] = {}


def _app_id() -> str | None:
    """applicationId of the process's live SparkContext (None when no
    context runs). A cached relation or a measured probe belongs to
    the application that built it."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    return None if sc is None else sc.applicationId


def _release(value: object) -> None:
    """Unpersist a replaced DataFrame entry; other values just drop."""
    if isinstance(value, DataFrame):
        try:
            value.unpersist()
        except Exception:
            pass  # its session already stopped


def keyed_value(slot: str, key: Hashable, builder: Callable[[], object]):
    """The value ``builder()`` returned for ``key`` in this Spark
    application, built at most once while the slot holds it. A miss
    replaces (and releases) the slot's previous entry. When no
    context can be found the stored application is not compared."""
    app = None if key is None else _app_id()
    hit = _SLOTS.get(slot)
    if hit is not None:
        (stored_key, stored_app), value = hit
        if key is not None and stored_key == key and (
                app is None or stored_app == app):
            return value
        _release(value)
        del _SLOTS[slot]
    value = builder()
    _SLOTS[slot] = ((key, app), value)
    return value


def keyed_persist(slot: str, key: Hashable,
                  builder: Callable[[], DataFrame]) -> DataFrame:
    """``keyed_value`` over ``builder().persist()``: one persisted
    relation per slot, unpersisted when a new key replaces it."""
    return keyed_value(slot, key, lambda: builder().persist())


def gate(slot: str, key: Hashable, rows: DataFrame, bound: int) -> bool:
    """Whether ``rows`` holds at most ``bound`` rows. The probe is a
    LIMIT-bounded count (it scans at most ``bound + 1`` rows, so a
    huge input costs no more than the bound) and is memoized in
    ``slot`` under ``(key, bound)``: one job per key, bound and
    application, none on a hit. ``key=None`` probes on every call.
    Since ``n <= bound`` iff ``min(n, bound + 1) <= bound``, the
    answer is the unbounded count's."""
    n = keyed_value(slot, None if key is None else (key, bound),
                    lambda: rows.limit(bound + 1).count())
    return n <= bound


def checkpoint_parquet(df: DataFrame, path: str) -> DataFrame:
    """Materialize ``df`` to parquet and continue the pipeline from
    the READ — the scratch-bounding stage boundary for multi-stage
    pipelines: unsplit, the LSH prep pipeline's wide stages held
    >77 GB of shuffle files CONCURRENTLY at 10M docs, because within
    one job every upstream ShuffleDependency stays referenced until
    the job ends.

    Splitting at a parquet boundary makes each wide stage its own
    job: once the write lands, the producing stages' shuffle files
    are unreachable and the ContextCleaner deletes them while the
    next stage runs — peak local scratch is ONE stage's shuffle plus
    the (columnar, compressed) checkpoint, not the sum of all
    stages. The System.gc() nudge matters: shuffle cleanup is
    reference-triggered, and without a collection the dead
    references can outlive the next stage's disk demand. This is
    also exactly the recovery point a 1000-executor run wants — a
    failed downstream stage restarts from the checkpoint, not from
    the raw corpus."""
    df.write.mode("overwrite").parquet(path)
    spark = df.sparkSession
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass  # cleanup nudge only — never fail the pipeline for it
    return spark.read.parquet(path)


def clear_slots() -> None:
    """Release and drop every slot: the one reset of every memo."""
    for _, value in _SLOTS.values():
        _release(value)
    _SLOTS.clear()
