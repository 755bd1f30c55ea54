"""Session confs: which ones ``ensure_session_confs`` may set, the
generated-class cache that ``get_spark`` sizes at launch, and the
Python-worker daemon it starts."""

from __future__ import annotations

import importlib.util
import os
import shutil
import subprocess
import sys
import textwrap
import types
import zipfile
import zipimport

import pytest

from databricks_feature_store_poc_spark import pyworker
from databricks_feature_store_poc_spark.registry import QUERIES, load_all_queries
from databricks_feature_store_poc_spark.session import (
    LAUNCH_CONFS,
    ensure_session_confs,
)
from tests.conftest import REPO, SF_SMOKE

# Compiles a second curation/MinHash/IVF run may still need: 8 measured in
# a fresh local[4] session with the engine's cache size, and 0 on a third
# run. Spark's default of 100 entries recompiles about 150 every run,
# because one run generates about 155 distinct classes.
SECOND_RUN_COMPILES_MAX = 20


def test_ensure_session_confs_sets_only_modifiable_keys(spark):
    """Every key ``ensure_session_confs`` sets can change on a live
    session, so the call raises nothing on a ``get_spark`` session, and
    every launch-time conf is one that only launch can set."""
    keys: list[str] = []
    recorder = types.SimpleNamespace(
        conf=types.SimpleNamespace(set=lambda k, v: keys.append(k))
    )
    ensure_session_confs(recorder)
    assert keys
    assert [k for k in keys if not spark.conf.isModifiable(k)] == []
    assert [k for k in LAUNCH_CONFS if spark.conf.isModifiable(k)] == []
    ensure_session_confs(spark)


def _codegen_compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def test_second_curation_run_reuses_generated_classes(spark, tmp_path):
    """A second run of the curation, MinHash and IVF queries, on a fresh
    copy of the corpus so the session memos build again, finds its
    generated classes in the codegen cache instead of compiling them
    again."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == (
        LAUNCH_CONFS["spark.sql.codegen.cache.maxEntries"]
    )
    load_all_queries()
    names = ("pipeline_curate_corpus", "dedup_near_minhash", "sim_ivf_topk")

    def run(copy: str) -> list[int]:
        sf_dir = str(tmp_path / copy)
        shutil.copytree(SF_SMOKE, sf_dir)
        return [len(QUERIES[n](spark, sf_dir).collect()) for n in names]

    first = run("a")
    before = _codegen_compiles(spark)
    second = run("b")
    assert _codegen_compiles(spark) - before <= SECOND_RUN_COMPILES_MAX
    assert second == first


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)


def _import_from(importer, name: str):
    spec = importer.find_spec(name)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.fixture
def archive(tmp_path):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"mod_a.py": "VALUE = 1\n"})
    yield path
    zipimport._zip_directory_cache.pop(path, None)
    pyworker._read_at.pop(path, None)


def test_unchanged_archive_keeps_its_directory(archive):
    importer = zipimport.zipimporter(archive)
    pyworker.invalidate_caches(importer)
    files = zipimport._zip_directory_cache[archive]
    pyworker.invalidate_caches(importer)
    pyworker.invalidate_caches(zipimport.zipimporter(archive))
    assert zipimport._zip_directory_cache[archive] is files
    assert _import_from(importer, "mod_a").VALUE == 1


def test_rewritten_archive_is_read_again(archive):
    importer = zipimport.zipimporter(archive)
    pyworker.invalidate_caches(importer)
    assert importer.find_spec("mod_b") is None
    _write_zip(archive, {"mod_a.py": "VALUE = 1\n", "mod_b.py": "VALUE = 2\n"})
    pyworker.invalidate_caches(importer)
    assert _import_from(importer, "mod_b").VALUE == 2


def test_missing_archive_falls_back_to_the_stock_behaviour(archive):
    importer = zipimport.zipimporter(archive)
    pyworker.invalidate_caches(importer)
    saved = archive + ".saved"
    os.rename(archive, saved)
    pyworker.invalidate_caches(importer)
    assert archive not in zipimport._zip_directory_cache
    assert importer.find_spec("mod_a") is None
    os.rename(saved, archive)
    pyworker.invalidate_caches(importer)
    assert _import_from(importer, "mod_a").VALUE == 1


def test_workers_keep_the_pyspark_zip_directory_across_tasks(spark):
    """A reused worker of a ``get_spark`` session serves the directory of
    ``pyspark.zip`` read once, instead of re-reading it for each task."""

    def pyspark_zip_directory(batches):
        import pandas as pd

        cache = zipimport._zip_directory_cache
        keys = [k for k in cache if k.endswith("pyspark.zip")]
        dir_id = id(cache[keys[0]]) if keys else -1
        for _ in batches:
            yield pd.DataFrame({"pid": [os.getpid()], "dir_id": [dir_id]})

    seen: dict[int, set[int]] = {}
    jobs: list[set[int]] = []
    for _ in range(2):
        df = spark.range(16, numPartitions=16).mapInPandas(
            pyspark_zip_directory, "pid long, dir_id long"
        )
        rows = df.collect()
        jobs.append({r.pid for r in rows})
        for r in rows:
            seen.setdefault(r.pid, set()).add(r.dir_id)
    if any(-1 in ids for ids in seen.values()):
        pytest.skip("the workers import pyspark from a directory, not pyspark.zip")
    assert jobs[0] & jobs[1]
    assert {pid: ids for pid, ids in seen.items() if len(ids) > 1} == {}


def test_workers_find_the_daemon_from_any_cwd(tmp_path):
    """A session started from another directory, with the repo only on
    the driver's ``sys.path``, runs Python tasks under the engine's daemon,
    and a worker path the caller passes still reaches the workers."""
    extra = tmp_path / "extra"
    extra.mkdir()
    (extra / "probe_extra.py").write_text("VALUE = 7\n")
    out = tmp_path / "out"
    out.mkdir()
    script = textwrap.dedent(
        f"""
        import os, sys, zipimport
        sys.path.insert(0, {REPO!r})
        from databricks_feature_store_poc_spark.session import get_spark

        spark = get_spark(
            "cwd-probe", master="local[2]", shuffle_partitions=2,
            extra_confs={{"spark.executorEnv.PYTHONPATH": {str(extra)!r}}},
        )

        def daemon_patch(batches):
            import pandas as pd
            import probe_extra

            name = zipimport.zipimporter.invalidate_caches.__qualname__
            for b in batches:
                yield pd.DataFrame({{"name": [name] * len(b), "v": [probe_extra.VALUE] * len(b)}})

        rows = spark.range(4, numPartitions=2).mapInPandas(
            daemon_patch, "name string, v long").collect()
        print("MAP", sorted({{(r.name, r.v) for r in rows}}))

        def touch(it):
            open(os.path.join({str(out)!r}, str(sum(it))), "w").close()

        spark.sparkContext.parallelize(range(10), 2).foreachPartition(touch)
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "MAP [('invalidate_caches', 7)]" in proc.stdout
    assert sorted(int(f) for f in os.listdir(out)) == [10, 35]
