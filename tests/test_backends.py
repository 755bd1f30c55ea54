"""Feature-flagged storage/registry backends: Delta format gate and the
MLflow registry mirror.

Neither delta-spark nor mlflow ships in this container, so these tests
pin (a) the graceful degradation paths a user hits here, and (b) the
delegation logic itself via a stub mlflow module — the calls the real
package would receive, without requiring it.
"""

from __future__ import annotations

import sys
import types

import pytest

from databricks_feature_store_poc_spark.featurestore.deltafmt import (
    delta_available,
    resolve_write_format,
    table_provider,
)
from databricks_feature_store_poc_spark.featurestore.merge import (
    merge_into_table,
)
from databricks_feature_store_poc_spark.featurestore.store import FeatureStore


class TestDeltaGate:
    def test_resolve_rejects_unknown_format(self):
        with pytest.raises(ValueError):
            resolve_write_format("orc")

    def test_delta_degrades_to_parquet_and_records_both(self, spark, tmp_path):
        """Without delta-spark, format='delta' must still produce a working
        table AND leave an audit trail of the degradation in metadata."""
        fs = FeatureStore(spark, meta_dir=str(tmp_path))
        df = spark.createDataFrame([(1, 1.0), (2, 2.0)], ["k", "v"])
        fs.create_table("fs_delta_gate", ["k"], df, format="delta")
        try:
            meta = fs.get_metadata("fs_delta_gate")
            expected = "delta" if delta_available() else "parquet"
            assert meta.extra["requested_format"] == "delta"
            assert meta.extra["format"] == expected
            assert table_provider(spark, "fs_delta_gate") == expected
            assert sorted(
                r["k"] for r in fs.read_table("fs_delta_gate").collect()
            ) == [1, 2]
        finally:
            fs.drop_table("fs_delta_gate")

    def test_merge_into_table_upserts_in_place(self, spark, tmp_path):
        """merge_into_table against a (non-delta) saved table: matching key
        updated, new key inserted, untouched key preserved — the same
        contract the Delta MERGE path honors transactionally."""
        fs = FeatureStore(spark, meta_dir=str(tmp_path))
        df = spark.createDataFrame([(1, 10.0), (2, 20.0)], ["k", "v"])
        fs.create_table("fs_merge_into", ["k"], df)
        try:
            updates = spark.createDataFrame([(2, 21.0), (3, 30.0)], ["k", "v"])
            merge_into_table(spark, "fs_merge_into", updates, ["k"])
            got = {
                r["k"]: r["v"] for r in spark.table("fs_merge_into").collect()
            }
            assert got == {1: 10.0, 2: 21.0, 3: 30.0}
        finally:
            fs.drop_table("fs_merge_into")

    def test_merge_into_table_rejects_duplicate_update_keys(
        self, spark, tmp_path
    ):
        """A batch with duplicate merge keys must fail up front on BOTH
        storage paths: DeltaTable.merge throws mid-merge on multi-match
        while the parquet fallback would silently union the duplicates —
        the same call must not produce different tables depending on the
        delta flag."""
        fs = FeatureStore(spark, meta_dir=str(tmp_path))
        df = spark.createDataFrame([(1, 10.0)], ["k", "v"])
        fs.create_table("fs_merge_dup", ["k"], df)
        try:
            updates = spark.createDataFrame(
                [(2, 21.0), (2, 22.0)], ["k", "v"]
            )
            with pytest.raises(ValueError, match="not unique on merge keys"):
                merge_into_table(spark, "fs_merge_dup", updates, ["k"])
            # table untouched by the rejected merge
            assert {
                r["k"]: r["v"] for r in spark.table("fs_merge_dup").collect()
            } == {1: 10.0}
        finally:
            fs.drop_table("fs_merge_dup")


@pytest.mark.parametrize(
    "kwargs,expected",
    [
        pytest.param({}, ([], [], None), id="plain"),
        pytest.param({"partition_by": ["p"]}, (["p"], [], None),
                     id="partitioned"),
        pytest.param({"bucket_by": (4, ["p", "k"])}, ([], ["p", "k"], 4),
                     id="bucketed"),
    ],
)
def test_merge_into_table_keeps_layout(spark, tmp_path, kwargs, expected):
    """table_layout reads provider, partition columns and bucket spec
    (bucket columns in spec order) from the catalog, and a merge that
    rewrites the table in place leaves all of them as they were."""
    from databricks_feature_store_poc_spark.featurestore.deltafmt import (
        table_layout,
    )

    partition_by, bucket_by, n_buckets = expected
    want = {"provider": "parquet", "partition_by": partition_by,
            "bucket_by": bucket_by, "n_buckets": n_buckets}
    fs = FeatureStore(spark, meta_dir=str(tmp_path))
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b")], ["k", "v", "p"]
    )
    fs.create_table("fs_merge_layout", ["k"], df, **kwargs)
    try:
        assert table_layout(spark, "fs_merge_layout") == want
        updates = spark.createDataFrame([(2, 21.0, "b"), (3, 30.0, "a")],
                                        ["k", "v", "p"])
        merge_into_table(spark, "fs_merge_layout", updates, ["k"])
        assert table_layout(spark, "fs_merge_layout") == want
        got = {r["k"]: r["v"] for r in spark.table("fs_merge_layout").collect()}
        assert got == {1: 10.0, 2: 21.0, 3: 30.0}
    finally:
        fs.drop_table("fs_merge_layout")


def _stub_mlflow(calls: list):
    """Minimal mlflow façade recording every delegation call."""
    mod = types.ModuleType("mlflow")

    class _Run:
        class info:  # noqa: N801 — mirrors mlflow's attribute shape
            artifact_uri = "stub://artifacts"
            run_id = "stub-run"

    class _StartRun:
        def __enter__(self):
            calls.append(("start_run",))
            return _Run()

        def __exit__(self, *a):
            return False

    class _Client:
        def create_registered_model(self, name):
            calls.append(("create_registered_model", name))

        def create_model_version(self, name, source, run_id):
            calls.append(("create_model_version", name, source, run_id))

        def delete_registered_model(self, name):
            calls.append(("delete_registered_model", name))

    mod.set_tracking_uri = lambda uri: calls.append(("set_tracking_uri", uri))
    mod.start_run = lambda run_name=None: _StartRun()
    mod.log_params = lambda p: calls.append(("log_params", dict(p)))
    mod.log_metrics = lambda m: calls.append(("log_metrics", dict(m)))
    mod.log_artifacts = lambda d: calls.append(("log_artifacts",))
    mod.MlflowClient = _Client
    return mod


class TestMlflowMirror:
    def test_backend_gate_raises_without_mlflow(self, tmp_path):
        from databricks_feature_store_poc_spark.featurestore.mlpath import (
            ModelRegistry,
        )

        if "mlflow" in sys.modules:  # defensive: keep the gate meaningful
            pytest.skip("real mlflow present")
        with pytest.raises(ImportError):
            ModelRegistry(str(tmp_path), backend="mlflow")

    def test_register_and_delete_mirror_into_mlflow(self, tmp_path, monkeypatch):
        calls: list = []
        monkeypatch.setitem(sys.modules, "mlflow", _stub_mlflow(calls))
        from databricks_feature_store_poc_spark.featurestore.mlpath import (
            ModelRegistry,
        )

        reg = ModelRegistry(
            str(tmp_path), backend="mlflow", tracking_uri="stub://server"
        )
        v = reg.register(
            "m", {"weights": [1, 2]}, params={"depth": 3}, metrics={"auc": 0.9}
        )
        assert v == 1
        assert reg.load("m") == {"weights": [1, 2]}  # local layout authoritative
        reg.delete("m")

        names = [c[0] for c in calls]
        assert names == [
            "set_tracking_uri",
            "start_run",
            "log_params",
            "log_metrics",
            "log_artifacts",
            "create_registered_model",
            "create_model_version",
            "delete_registered_model",
        ]
        assert ("log_params", {"depth": 3}) in calls
        assert ("log_metrics", {"auc": 0.9}) in calls
        assert (
            "create_model_version", "m", "stub://artifacts", "stub-run"
        ) in calls
