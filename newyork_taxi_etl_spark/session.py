"""SparkSession factory with reference-compatible semantics.

The reference ran on a managed Spark 3.5.2 runtime (see
``/root/reference/README.md:42-46``) where ANSI mode is OFF by default;
its speed filter divides by zero and relies on non-ANSI ``x/0.0 -> NULL``
semantics (SURVEY.md §2.9.5, ``nb:61073 (c26)``).  Local PySpark is 4.x
with ANSI ON by default, so the factory pins ``spark.sql.ansi.enabled=false``.

Scale notes (100 TB discipline):
  * AQE on (coalesce partitions + skew-join handling) — at cluster scale the
    route-pair group-by is skewed (SURVEY §7.3.6) and AQE splits skewed
    shuffle partitions at runtime.
  * ``spark.sql.shuffle.partitions`` defaults to 32 locally; on a real
    cluster set it to 2-3x total cores (or rely on AQE coalescing from a
    higher initial value).
  * Arrow enabled for the pandas-UDF paths (dedup/similarity/multimodal).
"""

from __future__ import annotations

import atexit
import contextlib
import contextvars
import os
import shutil
import tempfile
import threading

from pyspark.sql import SparkSession

#: Session-level SQL confs that are *dynamic* (safe to set on a live session).
#: These encode reference semantics and must hold for every query we run,
#: including on a driver-provided session.
DYNAMIC_CONFS: dict[str, str] = {
    # Reference semantics: non-ANSI division (x/0.0 -> NULL), lenient casts.
    "spark.sql.ansi.enabled": "false",
    # Golden hour/day-of-week values assume UTC (SURVEY §7.3.3).
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: partition coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDF exchange (vectorized Python boundary).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Case-insensitive resolution is Spark's default; pin it anyway since the
    # Airport_fee respelling quirk (SURVEY §2.9.7) depends on it.
    "spark.sql.caseSensitive": "false",
    # The driver testdata stores events.ts as parquet TIMESTAMP(NANOS), which
    # Spark 4 rejects outright; read it as long nanos and convert in the
    # reader (sources.readers.table(..., "events")).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply reference-compatible dynamic confs to an existing session.

    Called defensively at the top of every public query entry point so that
    driver-provided sessions (which may run ANSI-on Spark 4 defaults) still
    evaluate with reference semantics.

    Memoized per session OBJECT (r16): the registry wraps every query, so
    a bench/driver run re-issued these ~7 py4j conf round-trips on every
    one of its ~1200 query invocations for a session tuned on the first.
    The flag lives on the instance (not an id() set — CPython reuses ids
    after GC), so a fresh vanilla session is still tuned on first use;
    scoped-conf helpers restore values in ``finally`` and never leave a
    tuned session de-tuned.  The flag is set only when every conf was
    applied, so a partly tuned session is retried on its next call.

    Contract for driver-provided sessions: once tuned, nothing outside the
    engine's restoring helpers may change a ``DYNAMIC_CONFS`` key."""
    if getattr(spark, "_nyetl_tuned", False):
        return spark
    all_set = True
    for k, v in DYNAMIC_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs may be static on exotic deployments; best effort.
            all_set = False
    if all_set:
        try:
            spark._nyetl_tuned = True
        except Exception:
            pass  # exotic session proxies that reject attributes: stay untuned
    return spark


def spread(df):
    """Repartition an UNDER-SPLIT input to ``spark.sql.shuffle.partitions``
    before compute-heavy per-row work (hashing, shingling, interpreted
    higher-order vector math) — the engine's one scan-spread policy.

    Small local parquet inputs arrive as ONE split (single file, single row
    group), which would serialize the expensive projections — and any
    broadcast-join stage that inherits the probe side's partitioning, e.g.
    an O(N x corpus) cosine evaluation — onto one core while the others
    idle.  On a real cluster the scan already provides >= that many splits,
    so the guard returns the input itself (no shuffle added): an
    unconditional repartition there would be a full shuffle of the corpus
    for nothing.  Values are unchanged — round-robin placement feeds
    per-row expressions and order-insensitive reductions only.

    The width is ``spark.sql.shuffle.partitions`` because it is a SQL conf:
    Spark Connect can read it, unlike ``sparkContext.defaultParallelism``.
    ``get_spark`` takes it and the master's core count from the same
    ``SPARK_GRAFT_CPUS``, so locally the two agree.

    The probe chain FAILS CLOSED: classic Spark answers via
    ``df.rdd.getNumPartitions()``; under Spark Connect ``.rdd`` is
    unavailable, so the fallback signal is ``df.inputFiles()`` — and the
    guard repartitions ONLY on positive evidence of an under-split input
    (0 < files < n). A plan whose split count cannot be determined (no
    backing files, exotic sources) is returned untouched: on a well-split
    cluster scan a blind repartition would be exactly the full shuffle
    this guard exists to avoid, while the cost of a wrong no-op is one
    under-parallel local stage.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    try:
        if df.rdd.getNumPartitions() >= n:
            return df
        return df.repartition(n)
    except Exception:
        pass  # Spark Connect (no .rdd) or exotic plans: try file evidence
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return df  # no signal at all: fail closed (no shuffle added)
    if 0 < n_files < n:
        return df.repartition(n)
    return df


_SCRATCH_LOCK = threading.Lock()
_SCRATCH_ROOT: str | None = None
#: the dirs made by the registered call running in this context, if any
_CALL_DIRS: contextvars.ContextVar[list[str] | None] = contextvars.ContextVar(
    "nyetl_call_dirs", default=None
)
#: (thread id, query name) -> the dirs of that thread's last call of it
_LAST_CALL_DIRS: dict[tuple[int, str], list[str]] = {}


def scratch_root() -> str:
    """The process's one scratch root: made on first use under the system
    temp dir (unique, so processes never share it), removed at exit.  The
    stage cache keeps its shared stages under it; everything else gets a
    directory of its own from :func:`scratch`."""
    global _SCRATCH_ROOT
    with _SCRATCH_LOCK:
        if _SCRATCH_ROOT is None:
            _SCRATCH_ROOT = tempfile.mkdtemp(prefix="nyetl_scratch_")
            atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
        return _SCRATCH_ROOT


def scratch(name: str) -> str:
    """A fresh, empty directory under :func:`scratch_root` — the only way
    a builder gets scratch space, so two calls never share a path.

    Inside a registered call (:func:`call_scope`) the directory is freed
    when the next call of the same query starts on the same thread: a
    returned DataFrame that reads its scratch lazily stays readable until
    then, and a long-lived process holds at most one call's scratch per
    (thread, query).  Outside a call it lives until the process exits."""
    path = tempfile.mkdtemp(prefix=f"{name}_", dir=scratch_root())
    dirs = _CALL_DIRS.get()
    if dirs is not None:
        dirs.append(path)
    return path


@contextlib.contextmanager
def call_scope(name: str):
    """Scope one registered call of query ``name``: free the scratch of
    this thread's previous call of it, then record what this call makes.
    A nested call records into its own scope and restores the outer one."""
    key = (threading.get_ident(), name)
    for path in _LAST_CALL_DIRS.pop(key, ()):
        shutil.rmtree(path, ignore_errors=True)
    dirs: list[str] = []
    token = _CALL_DIRS.set(dirs)
    try:
        yield
    finally:
        _CALL_DIRS.reset(token)
        _LAST_CALL_DIRS[key] = dirs


def get_spark(
    app_name: str = "newyork-taxi-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local testing uses ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
    master comes from the environment (spark-submit) and this factory only
    contributes confs.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.mergeSchema", "false")
    )
    for k, v in DYNAMIC_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return tune(spark)
