"""SparkSession factory with engine defaults.

Defaults follow the scale-first configuration described in SURVEY.md §7:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
Arrow enabled for the pandas-kernel paths, UTC session timezone so results
compare bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import logging
import os
import time

from pyspark.sql import DataFrame, SparkSession

_LOG = logging.getLogger("bigdata_hwk_spark")


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    Any operator whose kernel is a pickled closure referencing this package
    (mapInPandas / applyInPandas paths) must call this first: the driver
    process may import us by file path with a cwd outside the repo, in
    which case executor workers can't resolve ``bigdata_hwk_spark`` from
    their own sys.path. Idempotent per SparkContext; works in both local
    and cluster mode (the zip is distributed with the job). A no-op when
    the workers fork from ``worker_daemon`` (``get_spark`` under a local
    master): the daemon imported this package from the source tree before
    forking, so the workers never read the zip.
    """
    sc = spark.sparkContext
    if sc._jsc is None or getattr(sc, "_bigdata_hwk_pyfile", False):
        return
    daemon = sc.getConf().get("spark.python.daemon.module")
    if daemon == "bigdata_hwk_spark.worker_daemon":
        sc._bigdata_hwk_pyfile = True
        return
    import pathlib
    import tempfile
    import zipfile

    pkg_dir = pathlib.Path(__file__).resolve().parent
    zpath = os.path.join(
        tempfile.gettempdir(), f"bigdata_hwk_spark_pyfiles_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as zf:
        for p in sorted(pkg_dir.rglob("*.py")):
            zf.write(p, arcname=str(p.relative_to(pkg_dir.parent)))
    sc.addPyFile(zpath)
    sc._bigdata_hwk_pyfile = True


def finalize_release(obj, release) -> None:
    """``weakref.finalize(obj, release)`` guarded against JVM teardown.

    A finalizer can fire at interpreter shutdown *after* ``spark.stop()``;
    an unpersist then raises a Py4J NullPointerException traceback on
    stderr/stdout — harmless, but it clobbered the bench harness's final
    JSON line for four rounds. No-op when no SparkContext is active.
    """
    import weakref

    def _release() -> None:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is None:
            return
        try:
            release()
        except Exception:
            pass

    weakref.finalize(obj, _release)


def get_spark(
    app_name: str = "bigdata_hwk_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Parameters are env-overridable so the same code path serves pytest
    (local[*], small shuffle fanout) and a real cluster (spark-submit
    provides master/partitions; our settings only fill gaps).

    Python workers: under a ``local[...]`` master the workers fork from
    ``worker_daemon`` (``spark.python.daemon.module``), with this
    package's parent directory on their ``PYTHONPATH`` so the daemon
    imports from any cwd. Spark's worker calls
    ``importlib.invalidate_caches()`` per task, which on CPython 3.11/3.12
    re-reads the central directory of every zip on the worker path (~0.2 s
    CPU per task). The daemon's guard re-reads an archive only when its
    ``(st_mtime_ns, st_size)`` changed or it is gone, so ``addPyFile`` zips
    still import; on CPython 3.13, where the call is lazy, the daemon
    installs no guard. The daemon imports this package from the source
    tree before forking, so local workers run the live source, and
    ``ensure_package_on_executors`` ships no zip. Other masters keep
    Spark's stock daemon: the package path need not exist on their
    executors.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions) if shuffle_partitions else "32",
        )
    )
    if not master and not os.environ.get("SPARK_MASTER"):
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    if master and master.startswith("local"):
        builder = builder.config(
            "spark.python.daemon.module", "bigdata_hwk_spark.worker_daemon"
        ).config(
            "spark.executorEnv.PYTHONPATH",
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def empty_df(spark, schema):
    """An empty DataFrame of ``schema`` that plans as an empty
    ``LocalRelation``.

    ``spark.createDataFrame([], schema)`` plans as a ``LogicalRDD`` over
    pickled parallelize slices, so every consumer forks a Python daemon
    and workers just to read nothing. ``limit(0)`` lets the optimizer's
    limit-zero rewrite replace that scan with an empty local relation:
    pure JVM, and folded away by empty-relation propagation wherever it
    meets a union, join or aggregate."""
    return spark.createDataFrame([], schema).limit(0)


_LOCAL_DF_NAMES: dict[str, list[str]] = {}


def local_df(spark, rows, schema: str):
    """Small driver-side table → DataFrame via the Arrow/pandas path.

    ``spark.createDataFrame(list_of_tuples, ...)`` plans as a
    ``Scan ExistingRDD`` over parallelize slices whose rows are PICKLED
    PYTHON OBJECTS — every consumer (a broadcast build, a join, a write)
    pays a Python-worker round trip per slice to deserialize them
    (measured: ~1 s inside a broadcast join, ~6 s when a ``coalesce(1)``
    serializes the 32 slice reads into one task). Routing the same rows
    through a pandas frame with an explicit schema ships ONE Arrow batch
    and plans as a pure-JVM ``LocalTableScan`` (guide §6 "Arrow for
    driver transfers"): measured 0.38 s vs 1.36 s for the broadcast-join
    consumer, 0.2 s vs 5.4 s under coalesce(1).

    Use for CLEANLY-TYPED local tables (ints/floats/strings/float
    arrays, no None-valued numeric cells — pandas would widen those to
    NaN floats). Empty input becomes an ``empty_df``. Enforcing the
    documented constraint instead of assuming it (r13 ADVICE), any row
    containing a None cell takes the classic path: misuse then degrades
    to the slow-but-correct pickled path rather than NaN-widening or an
    Arrow cast error mid-query. The scan is O(cells) over a table that
    is small by contract.
    """
    rows = rows if isinstance(rows, list) else list(rows)
    if not rows:
        return empty_df(spark, schema)
    if any(v is None for row in rows for v in row):
        return spark.createDataFrame(rows, schema)
    if isinstance(schema, str):
        names = _LOCAL_DF_NAMES.get(schema)
        if names is None:
            names = spark.createDataFrame([], schema).schema.names
            _LOCAL_DF_NAMES[schema] = names
    else:  # StructType
        names = list(schema.names)
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(rows, columns=names), schema=schema
    )


def _held(df) -> bool:
    sl = df.storageLevel
    return sl.useMemory or sl.useDisk or sl.useOffHeap


def persist_once(df, storage_level=None):
    """``persist`` unless the CacheManager already holds this logical plan.

    Re-persisting a plan that an earlier identical run (bench warm pass,
    repeated registry call) already cached is harmless but draws a
    ``WARN CacheManager`` line on the stdout channel the bench's one
    parseable JSON line shares. The probe must be ``storageLevel`` — a
    CacheManager plan lookup — not ``is_cached``, which only reflects the
    handle's own persist call.
    """
    from pyspark import StorageLevel

    if _held(df):
        return df
    return df.persist(storage_level or StorageLevel.MEMORY_AND_DISK)


def persist_scoped(df, storage_level=None):
    """``persist_once`` with OWNERSHIP: returns ``(df, release)`` where
    ``release()`` unpersists only if THIS call created the cache entry.

    The pairing ``persist_once(df)`` … ``df.unpersist()`` is subtly wrong
    (round-8 ADVICE): when an outer consumer already cached the identical
    plan — the exact case persist_once exists for — the unconditional
    unpersist drops the SHARED CacheManager entry out from under that
    consumer, forcing recomputation mid-use. Scoped callers (cache for the
    duration of one algorithm, then release) should use this instead.
    """
    if _held(df):
        return df, (lambda: None)
    persisted = persist_once(df, storage_level)
    return persisted, (lambda: persisted.unpersist())


_SHARED: dict[tuple, DataFrame | tuple[DataFrame | None, ...]] = {}


def _frames(value) -> list:
    members = value if isinstance(value, tuple) else (value,)
    return [df for df in members if df is not None]


def _unpersist(value) -> None:
    for df in _frames(value):
        try:
            df.unpersist()
        except Exception:  # the entry's session may be gone
            pass


def shared(spark: SparkSession, key: tuple, build):
    """One persisted intermediate per ``(applicationId, *key)``, shared by
    every consumer in the session (Shark's shared in-memory table).

    ``build()`` returns a DataFrame or a tuple of DataFrames (``None``
    members allowed); each frame is ``persist_once``d at MEMORY_AND_DISK
    and later calls return the same handles. The lifetime contract:

    - A hit whose frames the CacheManager no longer holds (after
      ``spark.catalog.clearCache()`` or an outside ``unpersist``) is a
      miss: the frames still held are unpersisted and ``build`` runs
      again. Handing out an unpersisted handle would make every consumer
      recompute the shared pipeline — and a range-partitioned layout
      would resample its bounds per evaluation.
    - A miss evicts the entries of OTHER applications (their session may
      be gone, so the unpersist is guarded). Entries of the live
      application are never evicted: a derived plan may still read them.
    """
    app_id = spark.sparkContext.applicationId
    full_key = (app_id, *key)
    value = _SHARED.get(full_key)
    if value is not None:
        if all(_held(df) for df in _frames(value)):
            return value
        _unpersist(value)
    for k in [k for k in _SHARED if k[0] != app_id]:
        _unpersist(_SHARED.pop(k))
    value = build()
    for df in _frames(value):
        persist_once(df)  # persist() returns the same handle
    _SHARED[full_key] = value
    return value


def bounded_window(*cols):
    """A GLOBAL (unpartitioned) ordering window — legal ONLY over a
    BOUNDED tiny table: post-``limit(k)`` survivors, an alphabet/
    dictionary-bounded histogram, or a driver-sized artifact table.

    WindowExec warns ("No Partition Defined ... moving all data to a
    single partition") at every such site; this helper is the single
    place that warning is allowed to originate, so a bench-tail warning
    always traces to a site whose input is ≤ a few thousand rows BY
    CONSTRUCTION. Every unpartitioned ``Window.orderBy`` in the engine
    must route through here — pinned by the plan-lint grep sweep
    (tests/test_plan_lint.py::test_global_windows_only_via_bounded_window).
    Chain ``.rowsBetween(...)`` on the returned spec where a frame is
    needed.
    """
    from pyspark.sql import Window

    return Window.orderBy(*cols)


def log_round(name: str, rnd: int, value, secs: float) -> None:
    """The per-round INFO record of an iterative operator on the engine
    logger: args ``(name, round, probe value, seconds)``."""
    _LOG.info("%s round %d: probe=%s, %.3f s", name, rnd, value, secs)


def fixpoint(
    name: str, state: DataFrame, step, *, max_iter: int, probe=None
) -> DataFrame:
    """Iterate ``state = step(state)``: the round driver of ``pagerank``,
    ``label_propagation``, ``kcore_members`` and the star alternation of
    ``connected_components``.

    Without ``probe`` it runs exactly ``max_iter`` rounds and checkpoints
    after every second round and after the last: a two-round lineage
    plans fine, and each checkpoint is one more sequential job. With
    ``probe`` it checkpoints every round (the probe reads it), stops at
    the first round whose ``probe(state)`` (never ``None``) equals the
    previous round's, and raises ``RuntimeError`` naming ``name`` when
    ``max_iter`` rounds do not converge: partial state is a wrong answer.
    Each round logs name, round, probe value and seconds at INFO on the
    ``bigdata_hwk_spark`` logger. No action runs beyond the checkpoints
    and the probe, and no job group is set: jobs stay in the caller's.

    Loops left hand-written:

    - hop_distances: max_hops bounds its output; an empty frontier ends it.
    - mg_tree_fold: it stops at one chunk; an "unchanged" probe costs a round.
    - ``similarity._kmeans_lloyd``: its state is a centroid matrix, not a
      DataFrame; it logs its rounds through ``log_round`` too.
    """
    last = None
    for rnd in range(1, max_iter + 1):
        t0 = time.perf_counter()
        state = step(state)
        if probe or rnd % 2 == 0 or rnd == max_iter:
            state = state.localCheckpoint()
        value = probe(state) if probe else None
        log_round(name, rnd, value, time.perf_counter() - t0)
        if value is not None and value == last:
            return state
        last = value
    if probe:
        raise RuntimeError(f"{name}: did not converge in {max_iter} rounds")
    return state
