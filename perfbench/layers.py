"""Per-layer metrics from a traced run's spans.

A layer is the span name before ``:`` (``<module>.<call>``). For each
layer, every deep-traced pass gives a per-call mean (a pass's total over
the layer's spans divided by its number of calls), and the metric is the
median of those over the deep passes. Metric names are
``<module>.<call>.<measure>``.
"""

from __future__ import annotations

from collections import defaultdict

from perfbench.harness import median

# Counts summed over a call's build and exec spans.
COUNTS = (
    "py4j_calls", "jobs", "tasks", "shuffle_write_bytes", "spill_bytes",
    "task_cpu_s", "gc_s", "output_bytes", "kv_writes",
)

# Workload-level metrics (README.md) reported beside the layers, taken
# from the traced run's plain passes.
WORKLOAD_METRICS = (
    "pass_s", "feature_build_s", "train_s", "score_rows_per_s",
    "sync_rows_per_s", "refresh_s", "lookup_p50_us", "lookup_p99_us",
    "table_bytes_per_row", "kv_bytes_per_row", "peak_rss_mb", "failed_ratio",
)


def _per_pass(spans: list[dict]) -> dict:
    """{layer: {pass: {"build_s": [...], "exec_s": [...], count: total}}}"""
    out: dict = defaultdict(lambda: defaultdict(lambda: defaultdict(float)))
    for s in spans:
        if not s.get("deep") or ":" not in s["name"]:
            continue
        layer, kind = s["name"].split(":", 1)
        rec = out[layer][s["pass"]]
        rec[f"{kind}_s"] += s["end"] - s["start"]
        rec[f"{kind}_n"] += 1
        for c in COUNTS:
            rec[c] += s.get(c, 0)
    return out


def layer_metrics(tracer, detail: dict, deep_walls: list[float], spark) -> dict:
    values: dict[str, float] = {}
    for layer, passes in _per_pass(tracer.spans).items():
        per_call: dict[str, list[float]] = defaultdict(list)
        for rec in passes.values():
            calls = max(rec["exec_n"], rec["build_n"], 1)
            for kind in ("build", "exec"):
                if rec[f"{kind}_n"]:
                    per_call[f"{kind}_s"].append(rec[f"{kind}_s"] / rec[f"{kind}_n"])
            for c in COUNTS:
                per_call[c].append(rec[c] / calls)
        for measure, vals in per_call.items():
            values[f"{layer}.{measure}"] = median(vals)

    values["session.get_spark.start_s"] = detail["session_s"]
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    values["cacheutil.blocks_held"] = sum(i.numCachedPartitions() for i in infos)
    values["cacheutil.storage_mem_mb"] = sum(i.memSize() for i in infos) / 2**20
    for k in WORKLOAD_METRICS:
        values[k] = detail.get(k)
    if deep_walls and detail.get("pass_s"):
        values["tracing.overhead_pct"] = (median(deep_walls) / detail["pass_s"] - 1) * 100
        values["tracing.bookkeeping_s"] = tracer.bookkeeping_s / len(deep_walls)
    return values
