"""The workloads. Each one generates its inputs from the seed,
prepares state on the session once, then runs identical passes.

A pass calls the package's public functions the way a user would, each
call inside a span named ``<module>.<call>:build`` (the Python call until
it returns a lazy DataFrame) or ``<module>.<call>:exec`` (the action, or
a call that executes eagerly). Every call plus the check of its output
is one op in ``Ops``.
"""

from __future__ import annotations

import json
import os
import shutil
import sqlite3
import time

import numpy as np
import pandas as pd

from perfbench import inputs
from perfbench.harness import check, median, quantile, rows_digest
from perfbench.model import LinearScorer

TABLE = "bench_user_features"
FEATURES = ["total_purchase_7d", "total_purchase_30d", "n_events_30d"]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def _stage(samples: dict, key: str, t0: float) -> float:
    dt = time.perf_counter() - t0
    samples.setdefault(key, []).append(dt)
    return dt


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, seed: int, tracer, ops):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = tracer
        self.ops = ops
        self.input_dir = os.path.join(work_dir, "inputs")
        os.makedirs(self.input_dir, exist_ok=True)
        # per-stage samples from passes run without deep tracing
        self.samples: dict[str, list[float]] = {}
        self.pass_samples: dict[str, list[float]] = {}  # the current pass

    def span(self, name: str):
        return self.tracer.span(name)

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """One-time state on the session (tables, model); part of set-up."""

    def stage_pass(self, pass_no: int) -> None:
        """Untimed work before a pass."""

    def run_pass(self, pass_no: int, record: bool) -> None:
        self.pass_samples = {}
        self._pass(pass_no)
        if record:
            for k, v in self.pass_samples.items():
                self.samples.setdefault(k, []).extend(v)

    def _pass(self, pass_no: int) -> None:
        raise NotImplementedError

    def detail(self) -> dict:
        """Workload-level metrics (named as in README.md) from the
        recorded passes."""
        raise NotImplementedError


class BatchLifecycle(Workload):
    """The whole lifecycle: events -> rolling features -> PK-checked
    feature table -> versioned snapshot -> training set -> model with
    lineage -> batch scoring, KV sync, lookups and a refresh cycle. The KV
    is several times larger than SQLite's page cache and lookup keys are
    uniform."""

    name = "batch_lifecycle"
    n_events = 100_000
    n_users = 50_000
    n_changed = 100
    n_new = 25
    gbt_iters = 3
    bursts = 3
    burst_size = 3_000

    def generate(self) -> None:
        self.user_ids = inputs.write_events(
            self.seed, self.input_dir, self.n_events, self.n_users
        )

    def prepare(self) -> None:
        from databricks_feature_store_poc_spark.featurestore.online import (
            OnlineStoreSync,
            SqliteKV,
        )
        from databricks_feature_store_poc_spark.featurestore.store import FeatureStore
        from databricks_feature_store_poc_spark.featurestore.versioned import (
            VersionedFeatureTable,
        )

        self.fs = FeatureStore(self.spark, meta_dir=os.path.join(self.work_dir, "fs_meta"))
        self.vt = VersionedFeatureTable(
            self.spark, os.path.join(self.work_dir, "versions"), TABLE
        )
        kv_dir = os.path.join(self.work_dir, "kv")
        os.makedirs(kv_dir, exist_ok=True)
        self.kv_path = os.path.join(kv_dir, "online.db")
        self.kv = SqliteKV(self.kv_path)  # driver-side stats reader
        self.reader = SqliteKV(self.kv_path)  # the serving connection
        self.sync = OnlineStoreSync(self.kv, ["user_id"])
        self.artifact = os.path.join(self.work_dir, "models", "scorer", "v1")
        self.scorer = LinearScorer([0.01, 0.002, 0.05], 2.0)
        self.n_spine = int(self.user_ids.size)
        self._expected = self._reference_features(
            np.random.default_rng([self.seed, 4]).choice(self.user_ids, 24, replace=False)
        )

    def _reference_features(self, users) -> dict:
        """Trailing 7d/30d sums and 30d counts at each user's last event,
        computed with pandas from the generated events: the reference the
        feature table is checked against."""
        ev = pd.read_parquet(os.path.join(self.input_dir, "events.parquet"))
        ev = ev[ev.user_id.isin(users)]
        out = {}
        day = pd.Timedelta(days=1)
        for uid, g in ev.groupby("user_id"):
            last = g.sort_values(["ts", "event_id"]).iloc[-1].ts
            w7 = g[(g.ts >= last - 7 * day) & (g.ts <= last)]
            w30 = g[(g.ts >= last - 30 * day) & (g.ts <= last)]
            out[int(uid)] = (
                round(float(w7.value.sum()), 6),
                round(float(w30.value.sum()), 6),
                int(len(w30)),
            )
        return out

    def _resolve(self, _name):
        return self.fs.read_table(TABLE)

    # -- stages -------------------------------------------------------------
    def build_features(self) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from databricks_feature_store_poc_spark.operators.rolling import (
            rolling_range_sum,
        )
        from databricks_feature_store_poc_spark.sources.catalog import load_table

        t0 = time.perf_counter()
        with self.ops.op("feature_build"):
            events = load_table(self.spark, self.input_dir, "events").withColumn(
                "one", F.lit(1)
            )
            with self.span("operators.rolling.rolling_range_sum:build"):
                feats = rolling_range_sum(events, "user_id", "ts", "value", 7, FEATURES[0])
                feats = rolling_range_sum(feats, "user_id", "ts", "value", 30, FEATURES[1])
                feats = rolling_range_sum(feats, "user_id", "ts", "one", 30, FEATURES[2])
            last = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
            latest = (
                feats.withColumn("rn", F.row_number().over(last))
                .filter(F.col("rn") == 1)
                .select(
                    "user_id", FEATURES[0], FEATURES[1],
                    F.col(FEATURES[2]).cast("long").alias(FEATURES[2]),
                )
            )
            with self.span("featurestore.store.create_table:exec"):
                self.fs.create_table(TABLE, ["user_id"], latest)
            with self.span("featurestore.versioned.write:exec"):
                self.version = self.vt.write(self.fs.read_table(TABLE))
            table = self.fs.read_table(TABLE)
            check(table.count() == self.n_spine, "feature table rows != users")
            got = table.filter(F.col("user_id").isin(list(self._expected))).collect()
            check(
                {
                    r.user_id: (round(r[FEATURES[0]], 6), round(r[FEATURES[1]], 6), r[FEATURES[2]])
                    for r in got
                }
                == self._expected,
                "feature values differ from the pandas reference",
            )
        _stage(self.pass_samples, "feature_build_s", t0)

    def train(self) -> None:
        from pyspark.sql import functions as F

        from databricks_feature_store_poc_spark.featurestore.lookup import (
            FeatureLookup,
            create_training_set,
        )
        from databricks_feature_store_poc_spark.featurestore.mlpath import (
            log_model,
            train_gbt,
        )
        from databricks_feature_store_poc_spark.sources.catalog import load_table

        t0 = time.perf_counter()
        with self.ops.op("train"):
            spine = load_table(self.spark, self.input_dir, "labels")
            with self.span("featurestore.lookup.create_training_set:build"):
                ts = create_training_set(
                    self.spark, spine,
                    [FeatureLookup.of(TABLE, FEATURES, "user_id")],
                    label="label", resolve_table=self._resolve,
                )
                matrix = ts.load_df()
            with self.span("featurestore.lookup.create_training_set:exec"):
                n = matrix.count()
            check(n == self.n_spine, "training-set rows != spine rows")
            train_df = matrix.na.fill(0.0).select(
                *[F.col(f).cast("double").alias(f) for f in FEATURES],
                F.col("label").cast("double").alias("label"),
            )
            with self.span("featurestore.mlpath.train_gbt:exec"):
                model = train_gbt(train_df, FEATURES, "label", max_iter=self.gbt_iters)
            check(model.stages[-1].getNumTrees == self.gbt_iters, "GBT tree count")
            with self.span("featurestore.mlpath.log_model:exec"):
                log_model(self.scorer, self.artifact, ts)
        _stage(self.pass_samples, "train_s", t0)

    def full_sync(self) -> None:
        t0 = time.perf_counter()
        with self.ops.op("full_sync"):
            w0 = self.kv.stats()["n_writes"]
            with self.span("featurestore.online.full_sync:exec") as rec:
                self.sync.full_sync(self.fs.read_table(TABLE))
            rec["kv_writes"] = self.kv.stats()["n_writes"] - w0
            check(rec["kv_writes"] == self.n_spine, "KV writes != rows")
        dt = _stage(self.pass_samples, "sync_s", t0)
        self.pass_samples.setdefault("sync_rows_per_s", []).append(self.n_spine / dt)

    def check_kv_sample(self, rng) -> None:
        """Sampled KV gets equal the feature table's rows."""
        from pyspark.sql import functions as F

        keys = [int(k) for k in rng.choice(self.user_ids, 16, replace=False)]
        with self.ops.op("kv_sample"):
            rows = self.fs.read_table(TABLE).filter(F.col("user_id").isin(keys)).collect()
            check(len(rows) == len(keys), "sampled keys missing from table")
            for r in rows:
                want = {f: r[f] for f in FEATURES}
                check(self.reader.get((r.user_id,)) == want, f"KV row {r.user_id} != table")

    def lookup_burst(self, keys: list[tuple]) -> None:
        get = self.reader.get
        laps = []
        with self.ops.op("lookup_burst"):
            for k in keys:
                t0 = time.perf_counter_ns()
                get(k)
                laps.append(time.perf_counter_ns() - t0)
        if laps:
            self.pass_samples.setdefault("lookup_p50_us", []).append(quantile(laps, 0.5) / 1e3)
            self.pass_samples.setdefault("lookup_p99_us", []).append(quantile(laps, 0.99) / 1e3)

    def refresh(self, pass_no: int) -> None:
        from databricks_feature_store_poc_spark.featurestore.merge import (
            merge_into_table,
        )

        upd = inputs.feature_updates(
            self.seed, pass_no, self.user_ids, self.n_changed, self.n_new
        )
        t0 = time.perf_counter()
        with self.ops.op("refresh"):
            before = self.kv.stats()
            updates = self.spark.createDataFrame(upd)
            with self.span("featurestore.merge.merge_into_table:exec"):
                merge_into_table(self.spark, TABLE, updates, ["user_id"])
            with self.span("featurestore.versioned.write:exec"):
                new_version = self.vt.write(self.fs.read_table(TABLE))
            with self.span("featurestore.online.delta_sync:exec") as rec:
                self.sync.delta_sync(
                    self.vt.read(version=self.version), self.vt.read(version=new_version)
                )
            self.version = new_version
            after = self.kv.stats()
            rec["kv_writes"] = after["n_writes"] - before["n_writes"]
            check(rec["kv_writes"] == len(upd), "KV writes != changed keys")
            check(after["n_deletes"] == before["n_deletes"], "refresh deleted keys")
            k = int(upd.user_id.iloc[-1])
            check(
                self.reader.get((k,)) == {f: upd[f].iloc[-1].item() for f in FEATURES},
                "refreshed key not served",
            )
        _stage(self.pass_samples, "refresh_s", t0)
        self.vt.prune(keep_last=2)

    def storage_sizes(self) -> None:
        rows = self.fs.read_table(TABLE).count()
        table_dir = os.path.join(self.work_dir, "warehouse", TABLE)
        self.pass_samples.setdefault("table_bytes_per_row", []).append(_dir_bytes(table_dir) / rows)
        kv_bytes = sum(
            os.path.getsize(p) for p in (self.kv_path, self.kv_path + "-wal") if os.path.exists(p)
        )
        self.pass_samples.setdefault("kv_bytes_per_row", []).append(kv_bytes / len(self.reader))

    def kv_sizes(self) -> dict:
        """The KV's main database file against SQLite's page cache. A
        fresh connection sees the cache size SqliteKV's connections get,
        as SqliteKV sets none."""
        con = sqlite3.connect(self.kv_path)
        try:
            pages, page_size, cache = (
                con.execute(f"PRAGMA {p}").fetchone()[0]
                for p in ("page_count", "page_size", "cache_size")
            )
        finally:
            con.close()
        # a negative cache_size is in KiB, a positive one in pages
        cache_bytes = -cache * 1024 if cache < 0 else cache * page_size
        return {"kv_db_mb": pages * page_size / 2**20, "kv_cache_mb": cache_bytes / 2**20}

    def _med(self, key: str) -> float | None:
        vals = self.samples.get(key)
        return median(vals) if vals else None

    def _pass(self, pass_no: int) -> None:
        rng = np.random.default_rng([self.seed, 5, pass_no])
        self.build_features()
        self.train()
        self.score()
        self.full_sync()
        self.check_kv_sample(rng)
        for _ in range(self.bursts):
            keys = [(int(k),) for k in rng.choice(self.user_ids, self.burst_size)]
            self.lookup_burst(keys)
        self.refresh(pass_no)
        self.storage_sizes()

    def score(self) -> None:
        from pyspark.sql import functions as F

        from databricks_feature_store_poc_spark.featurestore.mlpath import score_batch
        from databricks_feature_store_poc_spark.sources.catalog import load_table

        t0 = time.perf_counter()
        with self.ops.op("score"):
            spine = load_table(self.spark, self.input_dir, "labels").select("user_id")
            with self.span("featurestore.mlpath.score_batch:build"):
                scored = score_batch(self.spark, self.artifact, spine, self._resolve, FEATURES)
            with self.span("featurestore.mlpath.score_batch:exec"):
                r = scored.agg(
                    F.count(F.lit(1)).alias("n"), F.count("prediction").alias("scored")
                ).collect()[0]
            check(r.n == self.n_spine and r.scored == self.n_spine, "scored rows != spine rows")
        dt = _stage(self.pass_samples, "score_s", t0)
        self.pass_samples.setdefault("score_rows_per_s", []).append(self.n_spine / dt)

    def detail(self) -> dict:
        keys = (
            "feature_build_s", "train_s", "score_rows_per_s", "sync_rows_per_s",
            "refresh_s", "lookup_p50_us", "lookup_p99_us",
            "table_bytes_per_row", "kv_bytes_per_row",
        )
        return {**{k: self._med(k) for k in keys}, **self.kv_sizes()}


def _llm_queries():
    from databricks_feature_store_poc_spark.llm import (
        curation,
        dedup,
        multimodal,
        similarity,
    )

    return [
        ("llm.curation.pipeline_curate_corpus", curation.pipeline_curate_corpus),
        ("llm.dedup.dedup_near_minhash", dedup.dedup_near_minhash),
        ("llm.multimodal.mm_decode_jpeg", multimodal.mm_decode_jpeg),
        ("llm.multimodal.mm_decode_jpeg_color", multimodal.mm_decode_jpeg_color),
        ("llm.multimodal.mm_decode_jpeg_progressive", multimodal.mm_decode_jpeg_progressive),
        ("llm.multimodal.mm_decode_png", multimodal.mm_decode_png),
        ("llm.similarity.sim_ivf_topk", similarity.sim_ivf_topk),
    ]


class LlmCuration(Workload):
    """The llm.* layers and nothing of the feature store: mapInPandas
    kernels and shuffles over a seeded corpus with exact and near
    duplicates.

    The engine memoises derived tables per session, keyed on the source
    directory and its files (the shingle index, the IVF fit and index,
    the decontamination shingles). Each pass reads a fresh copy of the
    corpus in a directory of its own, so every pass computes them again
    instead of timing memo hits."""

    name = "llm_curation"
    n_docs = 600
    n_vecs = 250

    def generate(self) -> None:
        inputs.write_corpus(self.seed, self.input_dir, self.n_docs, self.n_vecs)

    def prepare(self) -> None:
        self.queries = _llm_queries()
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_digests.json")
        with open(path) as f:
            self.expected = json.load(f).get(self.name, {}).get(str(self.seed), {})
        self.digests: dict[str, str] = {}

    def stage_pass(self, pass_no: int) -> None:
        passes = os.path.join(self.work_dir, "passes")
        shutil.rmtree(passes, ignore_errors=True)
        self.pass_dir = os.path.join(passes, str(pass_no))
        shutil.copytree(self.input_dir, self.pass_dir)

    def _pass(self, pass_no: int) -> None:
        for name, fn in self.queries:
            t0 = time.perf_counter()
            with self.ops.op(name):
                with self.span(f"{name}:build"):
                    df = fn(self.spark, self.pass_dir)
                with self.span(f"{name}:exec"):
                    rows = df.collect()
                check(len(rows) > 0, f"{name} returned no rows")
                digest = rows_digest(rows)
                first = self.digests.setdefault(name, digest)
                check(digest == first, f"{name} digest changed between passes")
                want = self.expected.get(name.rsplit(".", 1)[1])
                check(want is None or digest == want, f"{name} digest != recorded")
                if name.endswith("sim_ivf_topk"):
                    check(all(r.recall_ok for r in rows), "IVF recall below floor")
            _stage(self.pass_samples, name, t0)

    def detail(self) -> dict:
        out = {k: median(v) for k, v in self.samples.items()}
        out["digests"] = {k.rsplit(".", 1)[1]: v for k, v in self.digests.items()}
        return out


WORKLOADS = {w.name: w for w in (BatchLifecycle, LlmCuration)}
