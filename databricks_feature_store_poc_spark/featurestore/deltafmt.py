"""Optional Delta Lake storage backend (feature-flagged).

The reference's north star runtime is "Spark SQL + Delta Lake"
(BASELINE.md); this container ships without ``delta-spark``, so every
caller degrades to the parquet + JSON-sidecar layout and the hand-rolled
snapshot manifest (featurestore/versioned.py). When delta IS importable
(a real deployment), ``FeatureStore.create_table(format="delta")`` writes
a Delta table and ``merge_into_table`` runs a REAL transactional MERGE
INTO — ACID, concurrent-reader-safe, and file-pruned on the merge keys
instead of a full read-modify-overwrite.

Everything here is import-gated: the engine never requires delta to load,
and tests exercise both the gated dispatch and the fallback semantics.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession


def delta_available() -> bool:
    """True when the delta-spark package is importable in this runtime."""
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def table_layout(spark: SparkSession, name: str) -> dict:
    """Physical layout of a saved table: provider, partition columns,
    bucket spec — everything an in-place rewrite must re-apply to avoid
    silently destroying the clustering ``create_table`` set up (partition
    pruning and shuffle-free bucketed joins die quietly otherwise).

    One catalog metadata read (``DESCRIBE TABLE EXTENDED ... AS JSON``)
    answers all of it and starts no Spark job; ``catalog.listColumns``
    would run two. Bucket columns come back in bucket-spec order, which
    is the order the bucket hash uses."""
    row = spark.sql(f"DESCRIBE TABLE EXTENDED {name} AS JSON").collect()[0]
    meta = json.loads(row[0])
    provider = meta.get("provider")
    return {
        "provider": provider.lower() if provider else None,
        "partition_by": meta.get("partition_columns") or [],
        "bucket_by": meta.get("bucket_columns") or [],
        "n_buckets": meta.get("num_buckets"),
    }


def table_provider(spark: SparkSession, name: str) -> str | None:
    """The catalog provider of a saved table ('parquet', 'delta', ...)."""
    try:
        return table_layout(spark, name)["provider"]
    except Exception:
        return None


def resolve_write_format(requested: str | None) -> tuple[str, str]:
    """(requested, actual) write format after the availability gate.

    ``delta`` is honored only when delta-spark imports; otherwise the
    write silently degrades to parquet and the caller records BOTH names
    in the table metadata so the degradation is visible, not hidden.
    """
    req = (requested or "parquet").lower()
    if req not in ("parquet", "delta"):
        raise ValueError(f"unsupported table format {requested!r}")
    if req == "delta" and not delta_available():
        return req, "parquet"
    return req, req
