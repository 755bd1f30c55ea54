"""Registry-wide duplicate-scan audit: find multi-reference recomputation.

The round-8 jaccard lesson generalized: referencing a DataFrame subtree
k times makes Spark PLAN it k times — at 100 TB a query that silently
re-derives its projection 5x pays 5x the scan+shuffle bill even though
every value is correct and the per-scale exchange count is flat. The
stress sweep can't see this (it compares a query to ITSELF at two
scales); this audit reads every registered query's physical plan at
sf0.001 and counts `FileScan parquet` nodes per source table, flagging
any table scanned >= FLAG_AT times in one plan.

Plan-time scan counts are an UPPER bound on runtime work, for two
reasons the audit accounts for:

- **Cached subtrees echo their plan.** Persisted `cacheutil.memo` DataFrames
  (pagerank edges, the shingle index, ANN fits) appear as
  InMemoryTableScan nodes whose toString echoes the cached plan's
  FileScans once per reference — pagerank "scans orders 22x" in the
  text while the runtime scans it ONCE into the cache. Rows record
  `n_imts`; plans with any InMemoryTableScan are not flagged on raw
  FileScan counts (the echo dominates them).
- **AQE exchange reuse** collapses identical sibling subtrees at
  runtime (jaccard's self-join sides dedupe into one reused stage).

So a flagged query is a lead, not a verdict — classify before fixing.
KNOWN_MULTI_SCAN records the classification for every standing flag:
the scan count must be CONSTANT in the query's design (per audit
branch, per merge statement, per window, per funnel stage), never
proportional to data or to an unintended re-derivation of a large
intermediate (the jaccard-draft failure mode this audit exists to
catch).

Usage:
    python scripts/audit_plan_scans.py              # full registry
    AUDIT_ONLY=a,b python scripts/audit_plan_scans.py

Writes scripts/audit_plan_scans.json.
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
FLAG_AT = int(os.environ.get("AUDIT_FLAG_AT", "3"))

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Standing flags, classified. Each reason states WHY the count is a
# constant of the query's design rather than accidental recomputation.
KNOWN_MULTI_SCAN = {
    "text_bpe_apply": "tokenize-once-per-distinct-word design: vocabulary aggregate, corpus-occurrence join feed, and the doc spine are three NARROW pruned projections of documents (constant 3; caching the exploded corpus to save a scan would cost more than re-scanning pushed-down columns at 100 TB)",
    "training_set_bpe_features": "same three-projection shape as text_bpe_apply (vocabulary, occurrences, spine) composed under create_training_set; constant by design",
    "stream_session_parity": "parity gate: a REAL streaming run and its batch twin both read events, then diff — re-derivation is the adjudicated claim",
    "text_tfidf_audit": "audit twin re-derives tf, df, and the primary's pipeline to compare them — the comparison IS the query",
    "pipeline_incremental_curate": "incremental contract: old-corpus and new-batch branches + novelty probe each scan documents; scan count fixed by the protocol, O(new docs) runtime",
    "pipeline_gdpr_delete": "one purge anti-join + one conditional-agg audit scan per affected table; the re-derived side is the small deleted-keys spine, broadcast per join",
    "merge_scd1_upsert": "merge protocol: target, source, change-detection, and audit statements each reference the dim; driver-side multi-statement by design",
    "merge_scd2_history": "SCD2 protocol: current rows, incoming rows, and closed-out rows are three branches of the merge contract",
    "scalar_subquery": "the operator demonstrates N independent scalar subqueries; each is a separate 1-row aggregate scan by definition",
    "dq_outlier_mad": "median-of-absolute-deviations needs two percentile passes plus the scoring pass — the documented multi-pass shape",
    "dq_expectations": "each expectation family is one conditional-aggregate scan of its table; count = number of expectation families",
    "agg_bloom_filter": "build-side scan + probe-side scan + exact-membership audit branches",
    "agg_countmin_sketch": "sketch build + exact-count audit comparison inside one query",
    "feature_rolling_sum": "prefix-sum union places one probe branch per rolling window; scans = 1 + #windows, constant in data",
    "densify_daily_spine": "per-key date-bounds aggregate + the spine join back onto events",
    "funnel_signup_purchase": "one branch per funnel stage over events; stages are a constant of the funnel definition",
    "agg_heavy_hitters": "candidate pass + exact-verification pass (the misra-gries contract)",
    "pack_sequences_audit": "audit twin: the packing pass plus an INDEPENDENT source re-derivation (row + distinct-id counts) — comparing packed output against the raw corpus is the invariant (r12: multiplicity preservation under dup PKs)",
}


def main() -> int:
    from databricks_feature_store_poc_spark.registry import (
        QUERIES,
        load_all_queries,
    )
    from databricks_feature_store_poc_spark.session import get_spark

    load_all_queries()
    spark = get_spark("audit-plan-scans")
    only = os.environ.get("AUDIT_ONLY")
    names = only.split(",") if only else list(QUERIES)

    rows = []
    for name in names:
        try:
            df = QUERIES[name](spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:
            rows.append({"query": name, "error": f"{type(exc).__name__}: {exc}"[:200]})
            continue
        # one FileScan line names one parquet path; count per source table
        scans = re.findall(r"FileScan parquet[^\n]*", plan)
        per_table: dict[str, int] = {}
        for s in scans:
            for t in TABLES:
                if f"{t}.parquet" in s or f"/{t}]" in s or f" {t}\\[" in s:
                    per_table[t] = per_table.get(t, 0) + 1
                    break
        worst = max(per_table.values(), default=0)
        n_imts = plan.count("InMemoryTableScan")
        rows.append(
            {
                "query": name,
                "n_filescans": len(scans),
                "n_imts": n_imts,
                "per_table": per_table,
                "max_scans_one_table": worst,
                # cached plans echo their FileScans once per reference —
                # the raw count measures the echo, not runtime scans
                "flag": worst >= FLAG_AT and n_imts == 0,
            }
        )
        if rows[-1]["flag"] and name in KNOWN_MULTI_SCAN:
            rows[-1]["flag_explained"] = KNOWN_MULTI_SCAN[name]
        print(json.dumps(rows[-1]), flush=True)

    flagged = [r for r in rows if r.get("flag")]
    out = os.path.join(REPO, "scripts", "audit_plan_scans.json")
    if only and os.path.exists(out):
        with open(out) as f:
            prior = {r["query"]: r for r in json.load(f)}
        for row in rows:
            prior[row["query"]] = row
        rows = list(prior.values())
    with open(out, "w") as f:
        json.dump(rows, f, indent=1)
    unexplained = [
        r["query"] for r in flagged if r["query"] not in KNOWN_MULTI_SCAN
    ]
    errors = [r["query"] for r in rows if r.get("error")]
    print(
        json.dumps(
            {
                "n_queries": len(rows),
                "n_flagged": len(flagged),
                "flagged": [r["query"] for r in flagged],
                "unexplained": unexplained,
                "n_errors": len(errors),
                "results_file": out,
            }
        )
    )
    # Standing-gate contract (r11, VERDICT r9 #6): the classified
    # multi-scan queries are the ONLY ones — any new flag or any query
    # that fails to plan is a regression, exit nonzero.
    return 1 if (unexplained or errors) else 0


if __name__ == "__main__":
    raise SystemExit(main())
