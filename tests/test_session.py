"""Session confs: which ones ``ensure_session_confs`` may set, and the
generated-class cache that ``get_spark`` sizes at launch."""

from __future__ import annotations

import shutil
import types

from databricks_feature_store_poc_spark.registry import QUERIES, load_all_queries
from databricks_feature_store_poc_spark.session import (
    LAUNCH_CONFS,
    ensure_session_confs,
)
from tests.conftest import SF_SMOKE

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
