"""ML-path parity: everything after `load_df()` in the reference
(SURVEY.md §2 tier 1: A1, T2, T3, A2, A3, ML3).

The reference materializes the training set to pandas and goes
single-node (/root/reference/notebooks/02_model_training.py:250 onward);
this module re-expresses each post-materialization step as a distributed
Spark computation so the same pipeline holds at 100 TB:

- A1 class distribution            (02:260-261, `value_counts`)
- T2 dtype column classification   (02:311-328, `select_dtypes`)
- T3 missing-value scan            (02:340-341, `isnull().any()`)
- A2 eval-metric aggregates        (02:367-387, `calculate_metrics`)
- A3 feature-importance sort       (02:462-465)
- ML3 model-with-lineage sink + score_batch (02:478-484, `fs.log_model`)

ML1 (CatBoost train, 02:422-436) and ML2 (MLflow registry, 02:389-395)
stay driver-side and optional per SURVEY §7 M4: `train_gbt` wraps
pyspark.ml's distributed GBT behind a feature gate and is exercised in
tests, not as a correctness query (fit results are not oracle-able).
"""

from __future__ import annotations

import json
import os

import pandas as pd

try:  # cloudpickle serializes closures/local classes by value (models are
    import cloudpickle as pickle  # rarely plain importable module globals)
except ImportError:  # pragma: no cover
    from pyspark import cloudpickle as pickle

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from databricks_feature_store_poc_spark.featurestore.lookup import TrainingSet
from databricks_feature_store_poc_spark.registry import QUERIES, query
from databricks_feature_store_poc_spark.sources.catalog import (
    load_table,
    parquet_row_count,
)


# -- A1 ---------------------------------------------------------------------

@query(
    "class_distribution",
    oracle="""
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n,
           COUNT(*) * 1.0 / (SELECT COUNT(*) FROM embeddings) AS pct
    FROM embeddings
    GROUP BY label
    """,
)
def class_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference `y.value_counts()` (02:260-261) as a distributed
    group-by + a windowed share — one partial-agg'd shuffle."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("pct", F.col("n") / F.sum("n").over(Window.partitionBy()))
    )


# -- T2 ---------------------------------------------------------------------

def classify_dtypes(df: DataFrame) -> dict[str, list[str]]:
    """Reference `select_dtypes` (02:311-328) over the Spark schema:
    Strings -> categorical, numerics -> numeric, the rest -> other.
    Driver-side metadata only — no job runs."""
    out: dict[str, list[str]] = {"categorical": [], "numeric": [], "other": []}
    for field in df.schema.fields:
        if isinstance(field.dataType, T.StringType):
            out["categorical"].append(field.name)
        elif isinstance(field.dataType, T.NumericType):
            out["numeric"].append(field.name)
        else:
            out["other"].append(field.name)
    return out


@query(
    "dtype_classification",
    oracle="""
    SELECT * FROM (VALUES
        ('l_orderkey', 'numeric'), ('l_partkey', 'numeric'),
        ('l_suppkey', 'numeric'), ('l_linenumber', 'numeric'),
        ('l_quantity', 'numeric'), ('l_extendedprice', 'numeric'),
        ('l_discount', 'numeric'), ('l_tax', 'numeric'),
        ('l_returnflag', 'categorical'), ('l_linestatus', 'categorical'),
        ('l_shipdate', 'other')
    ) AS t(column_name, col_class)
    """,
)
def dtype_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 as a query: classify lineitem's columns; the oracle pins the
    expected classification literally (schema-derived, so the differential
    check is Spark-schema vs declared truth)."""
    li = load_table(spark, sf_dir, "lineitem")
    classes = classify_dtypes(li)
    rows = [
        (name, cls)
        for cls, names in (
            ("numeric", classes["numeric"]),
            ("categorical", classes["categorical"]),
            ("other", classes["other"]),
        )
        for name in names
    ]
    return spark.createDataFrame(rows, ["column_name", "col_class"])


# -- T3 ---------------------------------------------------------------------

@query(
    "missing_value_scan",
    oracle="""
    WITH ts AS (
        SELECT o.o_orderkey, o.o_totalprice, o.o_orderstatus,
               c.c_acctbal, c.c_mktsegment, n.n_name
        FROM orders o
        LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_acctbal,
           CAST(SUM(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_mktsegment,
           CAST(SUM(CASE WHEN n_name IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_n_name
    FROM ts
    """,
)
def missing_value_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference `X.isnull().any().any()` (02:340-341) distributed: one
    pass over the flagship training set counting NULLs per feature column
    — conditional aggregates, single job, no materialization."""
    ts = QUERIES["training_set_flagship"](spark, sf_dir)
    return ts.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("c_acctbal").isNull(), 1).otherwise(0)).alias("null_acctbal"),
        F.sum(F.when(F.col("c_mktsegment").isNull(), 1).otherwise(0)).alias("null_mktsegment"),
        F.sum(F.when(F.col("n_name").isNull(), 1).otherwise(0)).alias("null_n_name"),
    )


# -- A2 ---------------------------------------------------------------------

@query(
    "eval_metrics",
    oracle="""
    WITH scored AS (
        SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
               CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END AS pred
        FROM embeddings
    ),
    cm AS (
        SELECT CAST(SUM(CASE WHEN y = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN y = 0 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN y = 1 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(SUM(CASE WHEN y = 0 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        FROM scored
    )
    -- nullif denominators: a degenerate confusion matrix (no predicted
    -- or no actual positives — the allnull replica) yields NULL
    -- precision/recall/F1 on both engines instead of a 0/0 error
    SELECT tp, fp, fn, tn,
           (tp + tn) * 1.0 / nullif(tp + fp + fn + tn, 0) AS accuracy,
           tp * 1.0 / nullif(tp + fp, 0) AS precision_1,
           tp * 1.0 / nullif(tp + fn, 0) AS recall_1,
           2.0 * (tp * 1.0 / nullif(tp + fp, 0))
               * (tp * 1.0 / nullif(tp + fn, 0))
               / nullif((tp * 1.0 / nullif(tp + fp, 0))
                        + (tp * 1.0 / nullif(tp + fn, 0)), 0.0) AS f1_1
    FROM cm
    """,
)
def eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference `calculate_metrics` (02:367-387) as SQL aggregates over
    (label, prediction): confusion counts, accuracy, precision/recall/F1.
    The predictions come from a fixed deterministic rule (first embedding
    coordinate sign) so the metric math — not a model fit — is what the
    oracle checks. Integer-count ratios divide identically cross-engine."""
    e = load_table(spark, sf_dir, "embeddings")
    scored = e.select(
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
        F.when(F.element_at("embedding", 1) > 0, 1).otherwise(0).alias("pred"),
    )
    cm = scored.agg(
        F.sum(F.when((F.col("y") == 1) & (F.col("pred") == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.when((F.col("y") == 0) & (F.col("pred") == 1), 1).otherwise(0)).alias("fp"),
        F.sum(F.when((F.col("y") == 1) & (F.col("pred") == 0), 1).otherwise(0)).alias("fn"),
        F.sum(F.when((F.col("y") == 0) & (F.col("pred") == 0), 1).otherwise(0)).alias("tn"),
    )
    # nullif denominators (mirrors the oracle): a degenerate confusion
    # matrix is NULL metrics, not an ANSI DIVIDE_BY_ZERO (allnull catch)
    p = F.col("tp") / F.nullif(F.col("tp") + F.col("fp"), F.lit(0))
    r = F.col("tp") / F.nullif(F.col("tp") + F.col("fn"), F.lit(0))
    return cm.select(
        "tp", "fp", "fn", "tn",
        (
            (F.col("tp") + F.col("tn"))
            / F.nullif(
                F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn"),
                F.lit(0),
            )
        ).alias("accuracy"),
        p.alias("precision_1"),
        r.alias("recall_1"),
        (F.lit(2.0) * p * r / F.nullif(p + r, F.lit(0.0))).alias("f1_1"),
    )


# -- A3 ---------------------------------------------------------------------

@query(
    "feature_importance",
    oracle="""
    WITH unpivoted AS (
        SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
               i.i AS dim,
               CAST(ROUND(CAST(embedding[i.i] AS DOUBLE), 6) AS DECIMAL(18,6)) AS val
        FROM embeddings, range(1, 65) AS i(i)
        WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    per_dim AS (
        SELECT dim,
               CAST(SUM(CASE WHEN y = 1 THEN val END) AS DOUBLE)
                   / SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS mean_pos,
               CAST(SUM(CASE WHEN y = 0 THEN val END) AS DOUBLE)
                   / SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS mean_neg
        FROM unpivoted
        GROUP BY dim
    )
    SELECT CAST(dim AS INT) AS dim, abs(mean_pos - mean_neg) AS importance
    FROM per_dim
    ORDER BY importance DESC, dim
    LIMIT 10
    """,
)
def feature_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference feature-importance sort (02:462-465) with a
    model-free importance: |mean(dim | y=1) - mean(dim | y=0)| per
    embedding dimension, top-10. Unpivot via posexplode (no 64-way
    self-join). Floats are rounded as doubles to 6 places *before* the
    decimal cast: a direct float->decimal cast goes through Java's
    shortest-string repr in Spark but the exact binary expansion in
    DuckDB, which flips the 6th decimal on occasional values; rounding the
    (exactly-converted) double first makes both engines quantize the same
    number, and the decimal sums after it are exact."""
    e = load_table(spark, sf_dir, "embeddings")
    # mirror the oracle's validity guard: the lateral range() would emit
    # 64 NULL-val rows per NULL/ragged vector and count them in the
    # per-dim denominators, where posexplode emits nothing (ADVICE r10
    # item #5's latent trap, real on the adversarial replica)
    e = e.filter("embedding IS NOT NULL AND size(embedding) = 64")
    unpivoted = e.select(
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
        F.posexplode("embedding").alias("pos", "val"),
    ).select(
        "y",
        (F.col("pos") + 1).alias("dim"),
        F.round(F.col("val").cast("double"), 6).cast("decimal(18,6)").alias("val"),
    )
    per_dim = unpivoted.groupBy("dim").agg(
        (
            F.sum(F.when(F.col("y") == 1, F.col("val"))).cast("double")
            / F.sum(F.when(F.col("y") == 1, 1).otherwise(0))
        ).alias("mean_pos"),
        (
            F.sum(F.when(F.col("y") == 0, F.col("val"))).cast("double")
            / F.sum(F.when(F.col("y") == 0, 1).otherwise(0))
        ).alias("mean_neg"),
    )
    return (
        per_dim.select(
            F.col("dim").cast("int").alias("dim"),
            F.abs(F.col("mean_pos") - F.col("mean_neg")).alias("importance"),
        )
        .orderBy(F.desc("importance"), F.asc("dim"))
        .limit(10)
    )


# -- ML3: model-with-lineage sink + score_batch -----------------------------

def log_model(model, artifact_dir: str, training_set: TrainingSet) -> str:
    """Reference `fs.log_model(..., training_set=...)` (02:478-484): write
    the model artifact next to the feature-lookup lineage so scoring can
    replay the exact joins. Plain pickle + JSON — MLflow, when installed,
    wraps this same layout (SURVEY §7 M4 keeps it optional)."""
    os.makedirs(artifact_dir, exist_ok=True)
    with open(os.path.join(artifact_dir, "model.pkl"), "wb") as f:
        pickle.dump(model, f)
    with open(os.path.join(artifact_dir, "lineage.json"), "w") as f:
        json.dump(training_set.lineage(), f, indent=2)
    return artifact_dir


def score_batch(
    spark: SparkSession,
    artifact_dir: str,
    spine: DataFrame,
    resolve_table,
    predict_cols: list[str],
) -> DataFrame:
    """Reference `score_batch`: load lineage, replay the lookup joins on a
    new spine (the POC's 'Automated Feature Joins' selling point,
    /root/reference/README.md:100-102), then apply the model via an
    Arrow-batched pandas UDF — predictions computed executor-side, spine
    never collected."""
    from databricks_feature_store_poc_spark.featurestore.lookup import (
        FeatureLookup,
        create_training_set,
    )

    with open(os.path.join(artifact_dir, "lineage.json")) as f:
        lineage = json.load(f)
    with open(os.path.join(artifact_dir, "model.pkl"), "rb") as f:
        model = pickle.load(f)

    lookups = [
        FeatureLookup(
            table_name=lk["table_name"],
            feature_names=tuple(lk["feature_names"]),
            lookup_key=tuple(lk["lookup_key"]),
            spine_keys=tuple(lk.get("spine_keys", ())),
            rename=dict(lk.get("rename", {})),
            timestamp_lookup_key=tuple(lk["timestamp_lookup_key"])
            if lk.get("timestamp_lookup_key") else None,
        )
        for lk in lineage["lookups"]
    ]
    ts = create_training_set(
        spark, spine, lookups,
        label=None,
        exclude_columns=lineage["exclude_columns"],
        resolve_table=resolve_table,
        on_demand_features=lineage.get("on_demand_features") or None,
    )
    enriched = ts.load_df()

    # Struct input -> the UDF receives one pandas DataFrame of features
    # per Arrow batch (a *args signature is not supported by pandas_udf).
    @F.pandas_udf(T.DoubleType())
    def predict_udf(feats: pd.DataFrame) -> pd.Series:
        return pd.Series(model.predict(feats))

    return enriched.withColumn(
        "prediction", predict_udf(F.struct(*predict_cols))
    )


@query(
    "score_batch_replay",
    oracle="""
    SELECT o.o_orderkey,
           CAST(CASE WHEN COALESCE(c.c_acctbal, 0.0) > 0 THEN 1 ELSE 0 END
                AS DOUBLE) AS prediction
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def score_batch_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ML3: log a model with the flagship lineage, then
    score_batch a fresh spine — the reference's automated-feature-join
    inference path (02:478-484 + README.md:100-102). The stub model is a
    deterministic threshold rule so the whole replay (lineage load ->
    join -> pandas_udf predict) is oracle-checkable."""
    from databricks_feature_store_poc_spark.featurestore.lookup import (
        FeatureLookup,
        create_training_set,
    )

    class ThresholdModel:
        """Deterministic stand-in model: predict 1 if first feature > 0.
        Defined inside the function so cloudpickle serializes the CLASS by
        value — the scoring UDF's closure captures an instance, and
        executors in an external driver session can't import this
        package."""

        def predict(self, feats):
            col = feats.iloc[:, 0].fillna(0.0)
            return (col > 0).astype(float)

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    spine = orders.select("o_orderkey", "o_custkey")
    lookups = [
        FeatureLookup(
            table_name="customer",
            feature_names=("c_acctbal",),
            lookup_key=("c_custkey",),
            spine_keys=("o_custkey",),
        )
    ]
    ts = create_training_set(
        spark, spine, lookups, label=None, exclude_columns=["o_custkey"],
        resolve_table={"customer": customer}.__getitem__,
    )
    # Run-scoped artifact dir (the _run_scoped_path convention): two
    # concurrent sessions must not race on the same pickle, and a reader
    # must never observe a partially written artifact from another run.
    from databricks_feature_store_poc_spark.operators.zorder import (
        _run_scoped_path,
    )

    artifact_dir = _run_scoped_path(spark, "model_replay", sf_dir)
    log_model(ThresholdModel(), artifact_dir, ts)
    scored = score_batch(
        spark, artifact_dir, spine,
        resolve_table={"customer": customer}.__getitem__,
        predict_cols=["c_acctbal"],
    )
    return scored.select("o_orderkey", "prediction")


# -- ML1 (feature-gated, exercised in tests) --------------------------------

def train_gbt(
    train_df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    *,
    max_iter: int = 10,
    max_depth: int = 3,
    validation_fraction: float = 0.0,
    validation_tol: float = 0.01,
    seed: int = 42,
):
    """Distributed gradient-boosted trees on the training set — the scale
    replacement for the reference's driver-side CatBoost (02:422-436,
    SURVEY §7: `toPandas` train is the 100 TB cliff).

    Categorical features: the reference's CatBoost consumes string
    columns natively via ``cat_features`` (02:87-97, 02:422-426); Spark's
    GBTClassifier needs them indexed first, so every StringType feature
    gets a StringIndexer (handleInvalid="keep": unseen categories at
    score time map to the extra bucket instead of failing) whose nominal
    metadata flows through VectorAssembler so the trees split on it as a
    CATEGORY, not a fake ordinal. Returns the fitted PipelineModel —
    ``transform`` on raw frames reapplies the same indexing, which is
    what keeps train and score paths consistent.

    Early stopping: with ``validation_fraction`` > 0, a deterministic
    hash split marks that share of rows as the eval set and GBT's
    validationIndicatorCol/validationTol stop boosting when the eval
    error stops improving — Spark's counterpart of the reference's
    ``eval_set`` + ``od_type=Iter, od_wait=20, use_best_model``
    (02:87-97, 02:428-436; Spark stops on improvement < tol rather than
    a patience window, same contract: iterations bounded by held-out
    error, not the iteration cap).
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import GBTClassifier
    from pyspark.ml.feature import StringIndexer, VectorAssembler

    string_cols = {
        f.name
        for f in train_df.schema.fields
        if f.name in feature_cols and isinstance(f.dataType, T.StringType)
    }
    stages = []
    assembler_inputs = []
    for c in feature_cols:
        if c in string_cols:
            stages.append(
                StringIndexer(
                    inputCol=c, outputCol=f"{c}__idx", handleInvalid="keep"
                )
            )
            assembler_inputs.append(f"{c}__idx")
        else:
            assembler_inputs.append(c)
    stages.append(
        VectorAssembler(inputCols=assembler_inputs, outputCol="features")
    )
    gbt_kwargs = dict(
        labelCol=label_col, featuresCol="features",
        maxIter=max_iter, maxDepth=max_depth, seed=seed,
    )
    fit_df = train_df
    if validation_fraction > 0:
        # xxhash64 over the feature+label tuple: deterministic on any
        # partitioning (same contract as split_hash_8020), no state to
        # persist between train runs.
        bucket = F.pmod(
            F.xxhash64(*[F.col(c) for c in [*feature_cols, label_col]]),
            F.lit(1000),
        )
        fit_df = train_df.withColumn(
            "__is_validation", bucket < int(validation_fraction * 1000)
        )
        gbt_kwargs["validationIndicatorCol"] = "__is_validation"
        gbt_kwargs["validationTol"] = validation_tol
    stages.append(GBTClassifier(**gbt_kwargs))
    return Pipeline(stages=stages).fit(fit_df)


# -- ML2: model registry (reference 02:389-395, 02:446-467) ------------------

class ModelRegistry:
    """Delete-then-register model registry with versioned artifacts.

    The reference drives MLflow's registry (MlflowClient().delete_registered_model
    + fs.log_model(registered_model_name=...), 02:389-395/478-484). MLflow is
    not in this container, so the same contract — named models, monotonically
    increasing versions, params/metrics attached, idempotent delete — is kept
    behind a local JSON/artifact layout. ``backend="mlflow"`` additionally
    MIRRORS every register/delete into MLflow's tracking server + model
    registry (params/metrics logged to a run, artifacts uploaded, a model
    version created; delete maps to delete_registered_model) — the local
    layout stays authoritative for load(), so the engine behaves
    identically with or without the flag (optional per SURVEY §7 M4; the
    import gate raises where mlflow is absent, and the delegation calls
    themselves are covered by a stub-module test).
    """

    def __init__(self, root: str, backend: str = "local",
                 tracking_uri: str | None = None):
        if backend == "mlflow":
            import mlflow  # gate: raise ImportError where absent

            self._mlflow = mlflow
            if tracking_uri is not None:
                mlflow.set_tracking_uri(tracking_uri)
        self.backend = backend
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _mlflow_mirror(self, name: str, vdir: str,
                       params: dict, metrics: dict) -> None:
        """Mirror one registered version into MLflow (best-effort contract:
        the reference's fs.log_model(registered_model_name=...) shape —
        run with params/metrics + artifacts + a registry model version)."""
        mlflow = self._mlflow
        client = mlflow.MlflowClient()
        with mlflow.start_run(run_name=f"{name}-register") as run:
            if params:
                mlflow.log_params(params)
            if metrics:
                mlflow.log_metrics({k: float(v) for k, v in metrics.items()})
            mlflow.log_artifacts(vdir)
            try:
                client.create_registered_model(name)
            except Exception:
                pass  # already registered — idempotent like the reference
            client.create_model_version(
                name=name, source=run.info.artifact_uri, run_id=run.info.run_id
            )

    def _model_dir(self, name: str) -> str:
        safe = name.replace(".", "__")
        return os.path.join(self.root, safe)

    def register(
        self,
        name: str,
        model,
        training_set: TrainingSet | None = None,
        params: dict | None = None,
        metrics: dict | None = None,
    ) -> int:
        """Register a new version; returns the version number."""
        mdir = self._model_dir(name)
        os.makedirs(mdir, exist_ok=True)
        versions = [int(v[1:]) for v in os.listdir(mdir) if v.startswith("v")]
        version = max(versions, default=0) + 1
        vdir = os.path.join(mdir, f"v{version}")
        if training_set is not None:
            log_model(model, vdir, training_set)
        else:
            os.makedirs(vdir, exist_ok=True)
            with open(os.path.join(vdir, "model.pkl"), "wb") as f:
                pickle.dump(model, f)
        with open(os.path.join(vdir, "run.json"), "w") as f:
            json.dump({"params": params or {}, "metrics": metrics or {}}, f, indent=2)
        if self.backend == "mlflow":
            self._mlflow_mirror(name, vdir, params or {}, metrics or {})
        return version

    def latest_version(self, name: str) -> int | None:
        mdir = self._model_dir(name)
        if not os.path.isdir(mdir):
            return None
        versions = [int(v[1:]) for v in os.listdir(mdir) if v.startswith("v")]
        return max(versions, default=None)

    def artifact_dir(self, name: str, version: int | None = None) -> str:
        v = version or self.latest_version(name)
        if v is None:
            raise KeyError(f"no registered model {name!r}")
        return os.path.join(self._model_dir(name), f"v{v}")

    def load(self, name: str, version: int | None = None):
        with open(os.path.join(self.artifact_dir(name, version), "model.pkl"), "rb") as f:
            return pickle.load(f)

    def run_info(self, name: str, version: int | None = None) -> dict:
        with open(os.path.join(self.artifact_dir(name, version), "run.json")) as f:
            return json.load(f)

    def delete(self, name: str) -> None:
        """Idempotent delete of all versions (reference 02:389-395 wraps
        the delete in try/except for the not-registered case)."""
        import shutil

        shutil.rmtree(self._model_dir(name), ignore_errors=True)
        if self.backend == "mlflow":
            try:
                self._mlflow.MlflowClient().delete_registered_model(name)
            except Exception:
                pass  # not registered — same idempotence as the local path


@query(
    "feature_target_encoding_oof",
    oracle="""
    WITH folded AS (
        SELECT o_orderpriority AS category,
               o_orderkey % 5 AS fold,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    per_fold AS (
        SELECT category, fold,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM folded GROUP BY category, fold
    )
    SELECT category,
           CAST(fold AS BIGINT) AS fold,
           n, pos,
           CAST(SUM(pos) OVER (PARTITION BY category) - pos AS BIGINT)
               AS oof_pos,
           CAST(SUM(n) OVER (PARTITION BY category) - n AS BIGINT)
               AS oof_n,
           CAST(SUM(pos) OVER (PARTITION BY category) - pos AS DOUBLE)
               / CAST(nullif(SUM(n) OVER (PARTITION BY category) - n, 0)
                      AS DOUBLE)
               AS oof_encoding
    FROM per_fold
    """,
)
def feature_target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding — the leakage-free way to turn a
    high-cardinality categorical into a numeric feature: each fold's
    rows are encoded with the target mean computed on the OTHER folds
    only, so a row never sees its own label (in-fold encoding leaks the
    target and inflates offline metrics; K-fold OOF is the standard
    remedy, cf. the CatBoost ordered-target-statistics idea the
    reference's model family is built around, 02_model_training.py's
    categorical handling).

    Category = order priority, label = (status == 'F'), fold =
    deterministic key hash (o_orderkey % 5 — same folds every run and
    every engine). The complete encoding table is (category x fold)
    grain — 25 rows whatever the corpus size — so this IS the 100 TB
    shape: one partial-aggregated shuffle to (category, fold), a window
    over the tiny grouped frame for the leave-fold-out sums, and a
    broadcast join back onto rows when materializing (demonstrated by
    the grain itself; the join is the training_set lookup path).
    Determinism: counts are exact BIGINTs; the encoding is ONE double
    division of two BIGINTs — bit-identical IEEE in both engines.
    """
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    per_fold = (
        o.select(
            F.col("o_orderpriority").alias("category"),
            (F.col("o_orderkey") % 5).alias("fold"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        )
        .groupBy("category", "fold")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").cast("long").alias("pos"),
        )
    )
    w = Window.partitionBy("category")
    oof_pos = (F.sum("pos").over(w) - F.col("pos")).cast("long")
    oof_n = (F.sum("n").over(w) - F.col("n")).cast("long")
    return per_fold.select(
        "category",
        F.col("fold").cast("long").alias("fold"),
        "n",
        "pos",
        oof_pos.alias("oof_pos"),
        oof_n.alias("oof_n"),
        # nullif: a category confined to a single fold has oof_n = 0 —
        # Spark's non-ANSI divide gives NULL, DuckDB's IEEE divide NaN;
        # pinning both engines to NULL (the corr_covar convention).
        (
            oof_pos.cast("double")
            / F.nullif(oof_n, F.lit(0)).cast("double")
        ).alias("oof_encoding"),
    )


@query(
    "feature_quantile_bin",
    oracle="""
    WITH cents_t AS (
        SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ),
    cuts AS (
        SELECT quantile_disc(cents, 0.1) AS c1, quantile_disc(cents, 0.2) AS c2,
               quantile_disc(cents, 0.3) AS c3, quantile_disc(cents, 0.4) AS c4,
               quantile_disc(cents, 0.5) AS c5, quantile_disc(cents, 0.6) AS c6,
               quantile_disc(cents, 0.7) AS c7, quantile_disc(cents, 0.8) AS c8,
               quantile_disc(cents, 0.9) AS c9
        FROM cents_t
    )
    SELECT CAST(1 + CAST(cents > c1 AS INT) + CAST(cents > c2 AS INT)
                  + CAST(cents > c3 AS INT) + CAST(cents > c4 AS INT)
                  + CAST(cents > c5 AS INT) + CAST(cents > c6 AS INT)
                  + CAST(cents > c7 AS INT) + CAST(cents > c8 AS INT)
                  + CAST(cents > c9 AS INT) AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(cents) AS min_cents,
           MAX(cents) AS max_cents
    FROM cents_t CROSS JOIN cuts
    GROUP BY 1
    """,
)
def feature_quantile_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (quantile) binning — the feature-engineering
    discretizer behind monotonic-feature bucketing, WOE/IV credit
    scorecards, and histogram features: o_totalprice (as exact BIGINT
    cents) split into deciles at its own order statistics.

    Cut points use SQL-standard PERCENTILE_DISC semantics (smallest
    value whose cumulative distribution >= p), so every boundary is an
    actual data value — BIGINT-exact, no interpolation, no float drift
    between engines (DuckDB's quantile_disc implements the same
    definition; test_round7 pins the corner semantics on a tiny frame,
    and pins this formulation against Spark's own percentile_disc).
    Bin id is 1 + the count of cut points strictly below the value:
    pure integer comparisons, identical everywhere.

    Scale shape — the cut points come from ONE value-histogram pass,
    not from percentile_disc itself: nine percentile_disc aggregates
    each buffer the full column (9x duplicated state — measured 2.8 s
    vs 0.5 s for one at sf0.1), whereas groupBy(value).count() reduces
    the corpus to its distinct-value histogram with partial+final
    combine, a running-count window over that (domain-bounded, NOT
    row-bounded) table ranks it, and all nine boundaries fall out of
    one conditional MIN over rows where cum >= ceil(p*n) — the rank
    threshold computed in pure BIGINT arithmetic ((i*n+9) div 10), no
    float anywhere. Pass 2 broadcasts the 1-row cut frame back onto
    the scan (a BroadcastNestedLoopJoin of one row — i.e. a map-side
    constant) and bins with a CASE chain into a 10-group aggregate.
    The single-partition running-count window is over distinct VALUES
    (price cents — bounded by the price domain at any corpus size); at
    a domain too wide for one task, the standard two-level cumsum
    (range-partition, per-partition totals, broadcast prefix offsets)
    drops in without changing the query's contract.
    """
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("cents")
    )
    # cut points are order statistics of the NON-NULL values only —
    # quantile_disc skips NULLs on both engines; leaving NULL rows in
    # the histogram would shift every rank threshold (allnull catch)
    hist = (
        cents.where(F.col("cents").isNotNull())
        .groupBy("cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_cum = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = hist.select(
        "cents",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    cuts = ranked.agg(
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.expr(f"({i} * n + 9) DIV 10"),
                    F.col("cents"),
                )
            ).alias(f"c{i}")
            for i in range(1, 10)
        ]
    )
    binned = cents.crossJoin(F.broadcast(cuts))
    # NULL value -> NULL bin (a NULL can't be discretized; the oracle's
    # integer CASE chain propagates NULL the same way)
    bin_id = F.lit(1)
    for i in range(1, 10):
        bin_id = bin_id + F.when(F.col("cents") > F.col(f"c{i}"), 1).otherwise(0)
    bin_id = F.when(F.col("cents").isNull(), F.lit(None)).otherwise(bin_id)
    return (
        binned.groupBy(bin_id.cast("long").alias("bin_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
    )


@query(
    "eval_auc_roc",
    oracle="""
    WITH scored AS (
        -- NULL-score rows are unrankable and excluded (r11 contract);
        -- leaving them in puts the NULL group at opposite ends of the
        -- rank order on the two engines (NULLS FIRST vs NULLS LAST)
        SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
               CAST(embedding[1] AS DOUBLE) AS s
        FROM embeddings
        WHERE embedding IS NOT NULL AND embedding[1] IS NOT NULL
    ),
    g AS (
        SELECT s, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS n_pos
        FROM scored GROUP BY s
    ),
    c AS (
        SELECT n, n_pos,
               CAST(coalesce(SUM(n) OVER (
                   ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cum_before
        FROM g
    ),
    t AS (
        SELECT CAST(sum(n_pos * (2 * cum_before + n + 1)) AS BIGINT)
                   AS sum_pos_2ranks,
               CAST(sum(n_pos) AS BIGINT) AS p,
               CAST(sum(n - n_pos) AS BIGINT) AS nn
        FROM c
    )
    SELECT p AS n_pos, nn AS n_neg,
           CAST(sum_pos_2ranks - p * (p + 1) AS DOUBLE)
               / CAST(nullif(2 * p * nn, 0) AS DOUBLE) AS auc
    FROM t
    """,
)
def eval_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC as the Mann-Whitney rank statistic — the
    threshold-free eval metric `eval_metrics`' confusion counts can't
    give. Labels/scores follow that query's deterministic convention
    (y = label < 5, score = first embedding coordinate).

    Exactness contract: ties get average ranks, but the whole statistic
    is computed in DOUBLED integer rank units (2*avg_rank =
    2*cum_before + n + 1), so every accumulation is BIGINT-exact and
    only the single final division produces a float — bit-identical on
    any engine at any partition count, unlike the float-summed textbook
    formulation. Shape at 100 TB: one groupBy(score) collapse (a
    distinct-score table, orders of magnitude smaller than the corpus),
    one prefix-sum window over it, one scalar aggregate; the global
    window runs over the COLLAPSED table only — the raw corpus is never
    globally sorted.
    """
    e = load_table(spark, sf_dir, "embeddings")
    scored = e.select(
        F.when(F.col("label") < 5, 1).otherwise(0).alias("y"),
        F.expr("try_element_at(embedding, 1)").cast("double").alias("s"),
    ).filter(F.col("s").isNotNull())
    g = scored.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    c = g.withColumn(
        "cum_before", F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long")
    )
    t = c.agg(
        F.sum(F.col("n_pos") * (2 * F.col("cum_before") + F.col("n") + 1))
        .cast("long").alias("sum_pos_2ranks"),
        F.sum("n_pos").cast("long").alias("p"),
        F.sum(F.col("n") - F.col("n_pos")).cast("long").alias("nn"),
    )
    return t.select(
        F.col("p").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        (
            (F.col("sum_pos_2ranks") - F.col("p") * (F.col("p") + 1))
            .cast("double")
            # nullif: a degenerate corpus with all labels on one side
            # (p=0 or nn=0) must be NULL on BOTH engines — Spark's
            # non-ANSI divide gives NULL but DuckDB's IEEE divide gives
            # ±Inf/NaN, the exact cross-engine divergence the repo's
            # corr_covar/oof nullif convention exists to prevent.
            / F.nullif(2 * F.col("p") * F.col("nn"), F.lit(0)).cast("double")
        ).alias("auc"),
    )


@query(
    "feature_rfm_segments",
    oracle="""
    WITH anchor AS (SELECT max(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
    cust AS (
        SELECT o_custkey,
               CAST(datediff('day', max(CAST(o_orderdate AS DATE)),
                             (SELECT d1 FROM anchor)) AS BIGINT)
                   AS recency_days,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT o_custkey, monetary_cents,
               ntile(5) OVER (ORDER BY recency_days DESC, o_custkey) AS r,
               ntile(5) OVER (ORDER BY frequency, o_custkey) AS f,
               ntile(5) OVER (ORDER BY monetary_cents, o_custkey) AS m
        FROM cust
    )
    SELECT CAST(r AS BIGINT) AS r_score, CAST(f AS BIGINT) AS f_score,
           CAST(m AS BIGINT) AS m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(monetary_cents) AS BIGINT) AS monetary_cents_total
    FROM scored
    GROUP BY 1, 2, 3
    """,
)
def feature_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic marketing feature triple:
    Recency (days since last order vs the corpus anchor), Frequency
    (order count), Monetary (BIGINT-cents spend), each quintile-scored
    and rolled up to the (r, f, m) segment grain.

    Determinism: ntile over a total order (metric, custkey) — the
    repo's win_ntile convention — so quintile boundaries are identical
    on both engines; money stays integer cents end-to-end. Scale shape:
    orders collapse to one row per customer FIRST (partial+final agg),
    so the global ntile windows run over the customer table, not the
    fact table. This registered query PINS the ntile branch with an
    explicit ``ntile_max_rows`` (the branches differ on ties by
    construction, and this oracle is ntile-form) so the
    SPARK_GRAFT_RFM_NTILE_MAX env override — whose purpose is tuning
    the ``rfm_segments`` library entry point — can't silently flip the
    adjudicated query onto the histogram branch and hash-red it. The
    histogram branch has its own pinned twin
    (``feature_rfm_segments_hist``); deployments past
    _RFM_NTILE_ORACLE_PIN customers are the library path's job, not
    this oracle's. The anchor date is a 1-row broadcast.
    """
    return rfm_segments(spark, sf_dir, ntile_max_rows=_RFM_NTILE_ORACLE_PIN)


# Above this many customer-dim rows the global-ntile quintile scoring
# (one single-task total-order sort per metric) hands over to the
# histogram-cut route. 2M rows of (key, 3 longs) sort in seconds on one
# task; the gate exists so the shortcut can't silently reach a 100 TB
# customer dim. Overridable per deployment via env.
RFM_NTILE_MAX = int(os.environ.get("SPARK_GRAFT_RFM_NTILE_MAX", "2000000"))

# The registered ntile-oracle query pins its branch with this explicit
# constant (NOT the env-overridable RFM_NTILE_MAX): the env knob's
# advertised purpose is tuning library deployments, and exercising it
# must not flip the adjudicated ntile query onto the tie-divergent
# histogram branch (ADVICE r8).
_RFM_NTILE_ORACLE_PIN = 2_000_000


def _rfm_customer_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per customer: (recency_days, frequency, monetary_cents),
    all BIGINT — partial+final agg over orders, anchor date broadcast."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("od"),
        F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    anchor = o.agg(F.max("od").alias("d1"))
    return (
        o.groupBy("o_custkey")
        .agg(
            F.max("od").alias("last_od"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum("cents").cast("long").alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey", "frequency", "monetary_cents",
            F.datediff(F.col("d1"), F.col("last_od")).cast("long")
            .alias("recency_days"),
        )
    )


def _disc_cut_frame(df: DataFrame, col: str, prefix: str, k: int = 5) -> DataFrame:
    """1-row frame of the k-quantile PERCENTILE_DISC cut points of
    ``col`` (columns ``{prefix}1 .. {prefix}{k-1}``), computed via the
    feature_quantile_bin histogram route: groupBy(value) collapses the
    corpus to its distinct-value histogram (partial+final combine), a
    running-count window ranks that domain-bounded table, and each cut
    is one conditional MIN at the BIGINT rank threshold ceil(i*n/k) =
    (i*n + k - 1) DIV k. No percentile state buffering, no float."""
    # NULLs never seed a cut point: quantile_disc skips them on both
    # engines, and a NULL row in the histogram would shift every rank
    # threshold (allnull-replica catch, same rule as feature_quantile_bin)
    hist = (
        df.where(F.col(col).isNotNull())
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_cum = Window.orderBy(col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = hist.select(
        F.col(col).alias("v"),
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    return ranked.agg(
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.expr(f"({i} * n + {k - 1}) DIV {k}"),
                    F.col("v"),
                )
            ).alias(f"{prefix}{i}")
            for i in range(1, k)
        ]
    )


def rfm_segments(
    spark: SparkSession, sf_dir: str, ntile_max_rows: int | None = None
) -> DataFrame:
    """RFM segment rollup with an automatic scale switch (VERDICT r7
    'do this' #4): customer dims up to ``ntile_max_rows`` use exact
    equal-count quintiles (three global ntile windows — a single-task
    total-order sort, fine for small dims); larger dims use
    PERCENTILE_DISC histogram cuts per metric (the
    feature_quantile_bin shape — every stage partial-aggregated, the
    only single-task step a window over the DISTINCT-VALUE histogram,
    domain-bounded rather than row-bounded).

    The two branches differ on ties by construction (ntile splits a
    tied run across quintiles via the custkey tie-break; value cuts
    keep it together), so each branch has its own driver oracle:
    feature_rfm_segments (ntile) and feature_rfm_segments_hist
    (forced cuts via ntile_max_rows=0).

    The branch gate reads the customer table's row count from parquet
    FOOTER metadata (``parquet_row_count`` — no data scan, no Spark
    job), falling back to a columnless ``count()`` scan only if footers
    are unreadable. The probe counts the customer DIM while the scored
    frame is built from distinct orders custkeys, so it is an UPPER
    BOUND on the frame's cardinality — conservative in the safe
    direction (can only force the scale branch early, never carry the
    global sort to a dim bigger than the gate).
    """
    if ntile_max_rows is None:
        ntile_max_rows = RFM_NTILE_MAX
    if ntile_max_rows > 0:
        n_dim = parquet_row_count(sf_dir, "customer")
        if n_dim is None:
            n_dim = load_table(spark, sf_dir, "customer").count()
    else:
        n_dim = 1  # forced histogram branch: skip the probe entirely
    if 0 < n_dim <= ntile_max_rows:
        scored = _rfm_customer_frame(spark, sf_dir).select(
            "o_custkey", "monetary_cents",
            F.ntile(5).over(
                Window.orderBy(F.desc("recency_days"), F.asc("o_custkey"))
            ).cast("long").alias("r_score"),
            F.ntile(5).over(
                Window.orderBy(F.asc("frequency"), F.asc("o_custkey"))
            ).cast("long").alias("f_score"),
            F.ntile(5).over(
                Window.orderBy(F.asc("monetary_cents"), F.asc("o_custkey"))
            ).cast("long").alias("m_score"),
        )
    else:
        from databricks_feature_store_poc_spark.cacheutil import memo

        # The three cut scans + the scoring pass reference cust 4x;
        # persist ONE copy for the session (fingerprint-keyed, evicted
        # on testdata regeneration) instead of re-aggregating orders.
        cust = memo(
            spark, "rfm_cust", [os.path.join(sf_dir, "orders.parquet")],
            lambda: _rfm_customer_frame(spark, sf_dir), persist=True,
        )
        r_cuts = _disc_cut_frame(
            cust.select((-F.col("recency_days")).alias("v")), "v", "r"
        )
        f_cuts = _disc_cut_frame(
            cust.select(F.col("frequency").alias("v")), "v", "f"
        )
        m_cuts = _disc_cut_frame(
            cust.select(F.col("monetary_cents").alias("v")), "v", "m"
        )

        def _score(v, prefix: str):
            # NULL metric -> NULL score (the oracle's integer CASE chain
            # propagates NULL; 'bin 1' would misfile every NULL customer)
            s = F.lit(1)
            for i in range(1, 5):
                s = s + F.when(v > F.col(f"{prefix}{i}"), 1).otherwise(0)
            return F.when(v.isNull(), F.lit(None)).otherwise(s).cast("long")

        scored = (
            cust.crossJoin(F.broadcast(r_cuts))
            .crossJoin(F.broadcast(f_cuts))
            .crossJoin(F.broadcast(m_cuts))
            .select(
                "o_custkey", "monetary_cents",
                _score(-F.col("recency_days"), "r").alias("r_score"),
                _score(F.col("frequency"), "f").alias("f_score"),
                _score(F.col("monetary_cents"), "m").alias("m_score"),
            )
        )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("monetary_cents").cast("long").alias("monetary_cents_total"),
    )


@query(
    "feature_rfm_segments_hist",
    oracle="""
    WITH anchor AS (SELECT max(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
    cust AS (
        SELECT o_custkey,
               CAST(datediff('day', max(CAST(o_orderdate AS DATE)),
                             (SELECT d1 FROM anchor)) AS BIGINT)
                   AS recency_days,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS monetary_cents
        FROM orders GROUP BY o_custkey
    ),
    cuts AS (
        SELECT quantile_disc(-recency_days, 0.2) AS r1,
               quantile_disc(-recency_days, 0.4) AS r2,
               quantile_disc(-recency_days, 0.6) AS r3,
               quantile_disc(-recency_days, 0.8) AS r4,
               quantile_disc(frequency, 0.2) AS f1,
               quantile_disc(frequency, 0.4) AS f2,
               quantile_disc(frequency, 0.6) AS f3,
               quantile_disc(frequency, 0.8) AS f4,
               quantile_disc(monetary_cents, 0.2) AS m1,
               quantile_disc(monetary_cents, 0.4) AS m2,
               quantile_disc(monetary_cents, 0.6) AS m3,
               quantile_disc(monetary_cents, 0.8) AS m4
        FROM cust
    ),
    scored AS (
        SELECT o_custkey, monetary_cents,
               1 + CAST(-recency_days > r1 AS INT)
                 + CAST(-recency_days > r2 AS INT)
                 + CAST(-recency_days > r3 AS INT)
                 + CAST(-recency_days > r4 AS INT) AS r,
               1 + CAST(frequency > f1 AS INT)
                 + CAST(frequency > f2 AS INT)
                 + CAST(frequency > f3 AS INT)
                 + CAST(frequency > f4 AS INT) AS f,
               1 + CAST(monetary_cents > m1 AS INT)
                 + CAST(monetary_cents > m2 AS INT)
                 + CAST(monetary_cents > m3 AS INT)
                 + CAST(monetary_cents > m4 AS INT) AS m
        FROM cust CROSS JOIN cuts
    )
    SELECT CAST(r AS BIGINT) AS r_score, CAST(f AS BIGINT) AS f_score,
           CAST(m AS BIGINT) AS m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(monetary_cents) AS BIGINT) AS monetary_cents_total
    FROM scored
    GROUP BY 1, 2, 3
    """,
)
def feature_rfm_segments_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RFM rollup through the FORCED histogram-cut branch — the
    shape `rfm_segments` automatically selects above RFM_NTILE_MAX
    customers. Quintile scores are 1 + the count of PERCENTILE_DISC
    cut points strictly below the metric (recency negated so more
    recent scores higher, matching the ntile branch's DESC order);
    pure BIGINT comparisons, bit-identical on both engines. This
    oracle adjudicates the huge-dim branch so the automatic switch is
    driver-verified on BOTH sides, not just the small-dim shortcut.
    """
    return rfm_segments(spark, sf_dir, ntile_max_rows=0)
