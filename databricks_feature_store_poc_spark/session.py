"""SparkSession factory with scale-oriented defaults.

The reference inherits its runtime from Databricks (SURVEY.md §4); here we
pin the equivalent open-source Spark settings explicitly so the same plans
hold from local[32] test runs up to a 1000-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy).
- Arrow on for any driver materialization / pandas UDF path.
- ``spark.sql.legacy.parquet.nanosAsLong``: the driver's ``events`` table
  stores TIMESTAMP(NANOS) which vanilla Spark 4 refuses to read; we read the
  raw int64 and normalize to TimestampType in the source catalog
  (sources/catalog.py), truncating ns -> us exactly like DuckDB does.
- ``spark.sql.codegen.cache.maxEntries`` sized to the engine's working set.
  Spark keeps Janino-compiled classes in an LRU cache of 100 entries, and
  one pass generates more distinct classes than that: about 155 for the
  curation, MinHash and IVF queries, and 2,670 for the 246 registered
  queries at sf0.1 (``bench.py``). So each pass evicted what the next one
  needed, compiled it again, and the JIT warmed up each new class again.
  With 4,000 entries a session compiles each class once. The generated code
  is the same, so results are too. The cap is a launch-time conf:
  ``ensure_session_confs`` cannot apply it to a session the caller created,
  so such a session keeps Spark's 100.
- ``spark.python.daemon.module`` set to the engine's ``pyworker``. Every
  Python task (codec kernels, IVF ``cell_of``, ``score_batch``, online
  sync) cost about 0.2 s of worker CPU whatever its row count, most of it
  in the ``importlib.invalidate_caches()`` that PySpark's
  ``setup_spark_files`` calls at the start of each task. On Python 3.11
  and 3.12 that call makes each of the 14-16 zipimporters under
  ``pyspark.zip`` (1,328 entries) re-read the archive's whole directory;
  3.13's ``zipimporter.invalidate_caches`` only drops the cache entry.
  ``pyworker`` re-reads an archive only when its fingerprint (mtime_ns and
  size, as in ``cacheutil.source_fingerprint``) changed, then runs the
  stock ``pyspark.daemon``. Worker CPU of a 10-row task on a reused
  worker (Python 3.11.7, local[2], 4 vCPUs): 0.25 -> 0.04 s for
  ``mapInPandas``, 0.23 -> 0.02 s for an RDD ``foreachPartition``.
  Workers find the module through ``spark.executorEnv.PYTHONPATH``, which
  ``get_spark`` points at the package's parent directory, so the JVM's
  cwd does not matter. A session the caller created keeps the stock
  daemon, as it keeps the codegen cap.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _install_jvm_function_cache() -> None:
    """Cache the py4j handles of ``org.apache.spark.sql.functions``
    members per live JVM view (r18 floor optimization, VERDICT r17 #1).

    Stock ``pyspark.sql.utils._get_jvm_function`` resolves the functions
    class AND the member with two uncached py4j reflection round-trips on
    EVERY ``F.xxx(...)`` call — measured 3.35 round-trips / 0.48 ms per
    F.lit on this rig, ~60% of the 232k build-side py4j calls a bench
    pass makes. The handles are immutable for the life of the JVM, so
    memoize them in the JVMView's instance dict (a restarted context
    creates a fresh JVMView -> fresh cache; ``__dict__`` access bypasses
    JVMView.__getattr__'s reflection path). Pure call-path memo: the
    miss path is byte-for-byte the stock lookup, so every constructed
    Column is identical.
    """
    try:
        import pyspark.sql.functions.builtin as _psu

        if getattr(_psu._get_jvm_function, "_graft_cached", False):
            return
        _orig = _psu._get_jvm_function

        def _cached_get_jvm_function(name, sc):
            jvm = sc._jvm
            cache = jvm.__dict__.get("_graft_fn_cache")
            if cache is None:
                cache = {}
                jvm.__dict__["_graft_fn_cache"] = cache
            fn = cache.get(name)
            if fn is None:
                fn = _orig(name, sc)
                cache[name] = fn
            return fn

        _cached_get_jvm_function._graft_cached = True
        _psu._get_jvm_function = _cached_get_jvm_function
    except Exception:
        pass  # non-classic backends: stock path untouched


_install_jvm_function_cache()


def _default_driver_mem() -> str:
    """Driver heap default: explicit env wins; otherwise size to the host.

    local[N] is a single JVM — the driver heap IS the executor heap for
    all task threads, and 8g GC-thrashed the full bench suite (385s ->
    176s at 24g on the 128 GiB rig, measured r5). But hardcoding 24g
    OOMs smaller hosts that import this library, so derive: ~1/4 of
    physical RAM, clamped to [4g, 24g].
    """
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        total_gib = (
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
        )
    except (ValueError, OSError, AttributeError):
        return "4g"
    return f"{max(4, min(24, int(total_gib // 4)))}g"


# Launch-time confs: Spark reads these once, when the JVM and its
# SparkContext start, so only ``get_spark`` can apply them; setting one on
# a live session raises.
LAUNCH_CONFS: dict[str, str] = {
    # r18 floor optimization (VERDICT r17 #1): PySpark 4 wraps EVERY
    # Column/DataFrame method with a call-site capture that pushes the
    # Python stack fragment to the JVM (PySparkCurrentOrigin) — measured
    # 11 py4j round-trips per Column operator vs 1 with it off, ~0.5 ms
    # each, across the ~230k build-side calls a bench pass makes. The
    # switch below is Spark's own documented opt-out ("Providing
    # DataFrame debugging options to reduce performance slowdown",
    # pyspark/errors/utils.py); it only drops the enriched PySpark
    # call-site line from error messages — plans, results and errors
    # themselves are unchanged.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Generated-class cache size (see the module docstring).
    "spark.sql.codegen.cache.maxEntries": "4000",
    # Python-worker daemon (see the module docstring).
    "spark.python.daemon.module": "databricks_feature_store_poc_spark.pyworker",
    # Local test runs only; a real deployment sizes these per-cluster.
    "spark.ui.enabled": "false",
    "spark.driver.memory": _default_driver_mem(),
}

# Session confs: runtime-settable, so ``ensure_session_confs`` also applies
# them to a session the caller created.
SESSION_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE re-partition plans that feed a persisted cache: without it,
    # df.persist() pins the pre-AQE shuffle partition count, so a tiny
    # cached relation (the shingle index, CC edge lists) materializes as
    # 32 near-empty partitions and every downstream job pays 32-task
    # scheduling overhead. At scale AQE targets its advisory partition
    # size either way — this is safe in both directions.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # The driver testdata stores timestamps as parquet TIMESTAMP(MICROS)
    # with isAdjustedToUTC=false; Spark 4 would infer TIMESTAMP_NTZ, which
    # breaks unix_micros()/time-range window frames and diverges from the
    # LTZ semantics every operator (and the DuckDB oracle, under the UTC
    # session TZ pinned below) assumes. Read them as TIMESTAMP_LTZ.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(
    app_name: str = "feature-store-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    for tests/bench; on a cluster, pass ``master=None`` with an external
    conf or set the env accordingly.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    builder = SparkSession.builder.appName(app_name).master(master)
    confs = {**LAUNCH_CONFS, **SESSION_CONFS}
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # SPARK_GRAFT_EXTRA_CONFS="k=v;k=v" — env-level conf overrides so the
    # standing gates can rerun the WHOLE harness under a different
    # execution regime (spark.speculation=true for the retry-determinism
    # gate, a non-UTC spark.sql.session.timeZone for the timezone gate)
    # without touching call sites (r11).
    env_confs = os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "")
    for pair in filter(None, env_confs.split(";")):
        k, _, v = pair.partition("=")
        confs[k.strip()] = v.strip()
    if extra_confs:
        confs.update(extra_confs)
    # The daemon module must be importable by the workers from any cwd; a
    # path the caller passes comes after the package's.
    key = "spark.executorEnv.PYTHONPATH"
    confs[key] = os.pathsep.join(filter(None, (_PACKAGE_PARENT, confs.get(key))))
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's session confs to an externally-created session
    (the driver hands us one in ``__spark_entry__.entry``).

    Launch-time confs cannot be applied here: such a session keeps its
    own (for the codegen cache, Spark's default of 100 entries, and the
    stock Python-worker daemon).
    """
    for k, v in SESSION_CONFS.items():
        spark.conf.set(k, v)
    # A vanilla session defaults to 200 shuffle partitions — 6x oversized
    # for local[32] and pure overhead at sf<=0.1. Runtime-settable, and AQE
    # coalescing keeps it safe if the driver's data is bigger than ours.
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_CPUS", "32"),
    )
    return spark
