"""Training-data curation operators (north-star LLM pipeline, SURVEY §2/M5).

The selection/packing steps that sit between dedup (llm/dedup.py) and
training: benchmark decontamination, per-stratum quota selection,
deterministic stratified sampling, and context-window sequence packing.
These go beyond the reference's own surface (its pipeline ends at feature
tables, /root/reference/notebooks/02_model_training.py) — they are the
corpus-side operators a 100 TB pretraining pipeline runs after features
and dedup are done.

Scale notes per operator live on the functions; the common theme: eval
sets and per-stratum statistics are tiny → broadcast; per-document
decisions are map-side or one-shuffle window work; packing shards by hash
so each task bin-packs an independent slice.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf/applyInPandas hints resolve here
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from databricks_feature_store_poc_spark.llm.dedup import shingle_expr
from databricks_feature_store_poc_spark.cacheutil import memo
from databricks_feature_store_poc_spark.cacheutil import (
    tracked_local_checkpoint as _ckpt,
)
from databricks_feature_store_poc_spark.registry import query
from databricks_feature_store_poc_spark.sources.catalog import load_table

# Decontamination n-gram width: long enough that shared n-grams indicate
# true eval-set leakage, not common phrases (13 is the public convention
# for benchmark decontamination; this corpus's docs are short, so 8).
DECON_NGRAM = 8
# Every doc_id ≡ 0 (mod 97) plays the role of the held-out eval set.
EVAL_MOD = 97


def _decon_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) table of distinct 8-gram shingles per document,
    session-persisted per corpus — the decontamination family references
    this explode from several plan branches (eval set, train probes,
    verification), so one cached copy replaces up to six recomputes of
    the split + shingle fan-out."""
    import os as _os

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        return d.select("doc_id", F.expr(_WORDS).alias("words")).select(
            "doc_id", F.explode(F.expr(shingle_expr(DECON_NGRAM))).alias("shingle")
        )

    src = [_os.path.join(sf_dir, "documents.parquet")]
    return memo(spark, "decon_shingles", src, build, persist=True)


_WORDS = r"filter(split(text, '\\s+'), x -> x != '')"
_DUCK_WORDS = r"list_filter(string_split_regex(text, '\s+'), x -> x != '')"


@query(
    "text_decontaminate",
    oracle=rf"""
    WITH words AS (
        SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(w[i : i + {DECON_NGRAM - 1}], ' ')
                              FOR i IN range(1, greatest(len(w) - {DECON_NGRAM - 2}, 1))])
                   AS shingles
        FROM words
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    ev AS (SELECT DISTINCT shingle FROM ex WHERE doc_id % {EVAL_MOD} = 0),
    hits AS (
        SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM ex e JOIN ev USING (shingle)
        WHERE e.doc_id % {EVAL_MOD} <> 0
        GROUP BY e.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           COALESCE(h.n_hits, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % {EVAL_MOD} <> 0
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    8-word n-gram with the held-out eval set (docs with doc_id % 97 == 0
    stand in for a benchmark).

    The 100 TB shape: eval sets are small and fixed, so their distinct
    n-gram set is BROADCAST and the check is a map-side semi-join per
    training shingle — the corpus is scanned once, never shuffled on
    shingle. n_hits counts distinct leaked n-grams per doc (shingles are
    distinct within a doc by construction).
    """
    d = load_table(spark, sf_dir, "documents")
    ex = _decon_shingles(spark, sf_dir)
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    eval_shingles = ex.filter(is_eval).select("shingle").distinct()
    hits = (
        ex.filter(~is_eval)
        .join(F.broadcast(eval_shingles), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        d.filter(~is_eval)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


@query(
    "sample_quota_per_lang",
    oracle="""
    SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn
    FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang ORDER BY n_chars DESC, doc_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY lang) AS lang_total
        FROM documents
    )
    WHERE rn <= CAST(ceil(CAST(0.2 AS DOUBLE) * lang_total) AS BIGINT)
    """,
)
def sample_quota_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum quota selection: keep the top 20% of each language's
    documents by length (a stand-in quality score), ties broken on
    doc_id so the cut is deterministic.

    A proportional quota survives scale changes where absolute caps
    don't. One shuffle on lang; the count and row_number share the same
    window partitioning so Catalyst evaluates both in a single Window
    node — no second pass.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang")
    rank_w = w.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        d.select(
            "doc_id", "lang",
            F.row_number().over(rank_w).cast("long").alias("rn"),
            F.count(F.lit(1)).over(w).alias("lang_total"),
        )
        .filter(F.col("rn") <= F.ceil(0.2 * F.col("lang_total")))
        .select("doc_id", "lang", "rn")
    )


@query(
    "sample_stratified_hash",
    oracle="""
    SELECT doc_id, lang,
           CAST(((doc_id * 2654435761) % 4294967296) % 100 AS BIGINT) AS bucket
    FROM documents
    WHERE ((doc_id * 2654435761) % 4294967296) % 100
          < CASE WHEN lang = 'en' THEN 50 ELSE 10 END
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep 50% of English and 10% of
    every other language, selected by a Knuth multiplicative hash of the
    key — NOT an RNG, so the sample is identical across runs, engines,
    partitionings, and retries (the property rand(seed)-based sampling
    loses on re-execution of a failed task).

    Map-only: no shuffle, no state; the same filter composes with any
    scan. At scale swap the arithmetic hash for xxhash64 — kept
    SQL-arithmetic here so the oracle can replicate it bit-for-bit.
    """
    d = load_table(spark, sf_dir, "documents")
    bucket = ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)) % 100
    rate = F.when(F.col("lang") == "en", 50).otherwise(10)
    return (
        d.select("doc_id", "lang", bucket.cast("long").alias("bucket"))
        .filter(F.col("bucket") < rate)
    )


# Sequence packing: context-window capacity in whitespace tokens, and the
# number of independent packing shards (each shard is one task's greedy
# problem — shards keep the operator embarrassingly parallel at 100 TB).
PACK_CONTEXT = 256
PACK_SHARDS = 32


# 32-bit integer from the first 8 hex chars of md5(doc_id) — the
# engine-portable shard hash (same md5 move that promoted the LSH
# families to full oracles in r15).
_DUCK_DOC_MD5_32 = (
    "CAST(list_sum([(strpos('0123456789abcdef', "
    "substring(md5(CAST(doc_id AS VARCHAR)), c, 1)) - 1) * (16 ** (8 - c)) "
    "FOR c IN range(1, 9)]) AS BIGINT)"
)


@query(
    "pack_sequences",
    oracle=f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               CAST(coalesce(len({_DUCK_WORDS}), 0) AS BIGINT) AS n_tokens,
               CASE WHEN doc_id IS NULL THEN CAST(-1 AS BIGINT)
                    ELSE {_DUCK_DOC_MD5_32} % {PACK_SHARDS} END AS shard
        FROM documents
    ),
    seq AS (
        SELECT doc_id, n_tokens, shard,
               row_number() OVER (
                   PARTITION BY shard
                   ORDER BY n_tokens DESC, doc_id ASC NULLS LAST) AS rk
        FROM toks
    ),
    -- sequential FFD per shard, one document per recursion level: the
    -- working row carries each shard's open-bin capacities as a list;
    -- list_position finds the first bin with room (first-fit), a miss
    -- appends a new bin (capacity may go negative for an oversized doc,
    -- closing the bin exactly as the engine kernel does)
    step(shard, i, caps, doc_id, n_tokens, bin_id) AS (
        SELECT DISTINCT shard, 0, CAST([] AS BIGINT[]),
               CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT)
        FROM seq
        UNION ALL
        -- nullif(..., 0): DuckDB list_position returns 0, not NULL, on
        -- a miss (and on an empty caps list)
        SELECT s.shard, s.i + 1,
               CASE WHEN nullif(list_position(
                        [c >= t.n_tokens FOR c IN s.caps], true), 0) IS NULL
                    THEN list_append(s.caps, {PACK_CONTEXT} - t.n_tokens)
                    ELSE [CASE WHEN j = list_position(
                                   [c >= t.n_tokens FOR c IN s.caps], true)
                               THEN s.caps[j] - t.n_tokens
                               ELSE s.caps[j] END
                          FOR j IN range(1, len(s.caps) + 1)]
               END,
               t.doc_id, t.n_tokens,
               CAST(coalesce(nullif(list_position(
                        [c >= t.n_tokens FOR c IN s.caps], true), 0),
                    len(s.caps) + 1) - 1 AS BIGINT)
        FROM step s
        JOIN seq t ON t.shard = s.shard AND t.rk = s.i + 1
    )
    SELECT doc_id, shard, n_tokens, bin_id FROM step WHERE i >= 1
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window sequence packing: assign every document to a
    (shard, bin) such that each bin's token total fits PACK_CONTEXT —
    the step that turns a cleaned corpus into dense training batches
    (padding waste = unused capacity, minimized by first-fit-decreasing).

    Shape: documents hash-shard on doc_id (map-side), one shuffle groups
    each shard, and each group runs deterministic FFD in pandas: sort by
    (n_tokens desc, doc_id), place each doc in the first bin with room,
    open a new bin otherwise; an oversized doc gets a bin of its own
    (downstream would truncate/split). Bins never cross shards, so the
    packing is reproducible regardless of cluster size — shard count, not
    executor count, defines the problem. Invariants (every doc exactly
    once, capacity respected, determinism) are pinned in
    tests/test_curation.py; bin numbering is per-shard dense from 0.

    FULL oracle (promoted from rows-only, VERDICT r15 #7, beyond the
    ordered aggregate-columns notch): the shard hash is md5-derived
    (engine-portable — the r15 LSH move), and the greedy FFD fold
    itself is replayed in DuckDB as a recursive CTE whose working row
    threads each shard's open-bin capacity list, one document per
    recursion level (first-fit = list_position of the first bucket
    with room). Every (doc_id, shard, n_tokens, bin_id) row is
    hash-adjudicated. Determinism across engines holds because the
    pack order (n_tokens DESC, doc_id ASC NULLS LAST) is a total order
    up to fully-identical rows, whose assignments are multiset-
    invariant. NULL doc_id packs in its own shard -1 (md5(NULL) is
    NULL; the engine mirrors with an explicit branch). The audit twin
    (pack_sequences_audit) keeps the capacity/coverage invariants."""
    d = load_table(spark, sf_dir, "documents")
    shard = (
        F.when(F.col("doc_id").isNull(), F.lit(-1))
        .otherwise(
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("long"),
                F.lit(PACK_SHARDS),
            )
        )
        .cast("long")
    )
    toks = d.select(
        "doc_id",
        # NULL text packs as a zero-token doc (r11 contract): size(NULL)
        # is NULL and a NaN n_tokens crashed the FFD kernel; every doc
        # still appears exactly once in the packing.
        F.coalesce(F.size(F.expr(_WORDS)), F.lit(0)).cast("long").alias("n_tokens"),
        shard.alias("shard"),
    )

    def pack_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        remaining: list[int] = []  # capacity left per open bin
        assigned: list[int] = []
        for nt in pdf["n_tokens"]:
            nt = int(nt)
            for bi, cap in enumerate(remaining):
                if cap >= nt:
                    remaining[bi] = cap - nt
                    assigned.append(bi)
                    break
            else:
                # new bin; an oversized doc leaves NEGATIVE remaining
                # capacity, so the bin is closed — even to 0-token docs
                # (cap >= nt can then never hold) — keeping the
                # one-oversized-doc-per-bin invariant.
                remaining.append(PACK_CONTEXT - nt)
                assigned.append(len(remaining) - 1)
        out = pdf[["doc_id", "shard", "n_tokens"]].copy()
        out["bin_id"] = pd.Series(assigned, dtype="int64")
        return out

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("shard", T.LongType()),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("bin_id", T.LongType()),
        ]
    )
    return toks.groupBy("shard").applyInPandas(pack_shard, schema)


@query(
    "pipeline_curate_corpus",
    oracle=rf"""
    WITH quality AS (
        SELECT doc_id, text, lang FROM documents WHERE n_chars >= 100
    ),
    deduped AS (
        SELECT min(doc_id) AS doc_id FROM quality GROUP BY text
    ),
    kept0 AS (
        SELECT q.doc_id, q.text, q.lang
        FROM quality q JOIN deduped k ON q.doc_id = k.doc_id
    ),
    words AS (
        SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(w[i : i + {DECON_NGRAM - 1}], ' ')
                              FOR i IN range(1, greatest(len(w) - {DECON_NGRAM - 2}, 1))])
                   AS shingles
        FROM words
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    ev AS (SELECT DISTINCT shingle FROM ex WHERE doc_id % {EVAL_MOD} = 0),
    contaminated AS (
        SELECT DISTINCT e.doc_id FROM ex e JOIN ev USING (shingle)
    ),
    clean AS (
        SELECT k.doc_id, k.text, k.lang
        FROM kept0 k
        LEFT JOIN contaminated c ON k.doc_id = c.doc_id
        WHERE c.doc_id IS NULL AND k.doc_id % {EVAL_MOD} <> 0
    ),
    sampled AS (
        SELECT doc_id, text, lang FROM clean
        WHERE ((doc_id * 2654435761) % 4294967296) % 100
              < CASE WHEN lang = 'en' THEN 50 ELSE 10 END
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(list_filter(string_split_regex(text, '\s+'),
                                    x -> x != ''))) AS BIGINT) AS n_tokens
    FROM sampled
    GROUP BY lang
    """,
)
def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline composed as ONE Catalyst plan: quality
    floor (n_chars >= 100) -> exact dedup (keep each text's min doc_id)
    -> benchmark decontamination (drop docs sharing an 8-gram with the
    eval subset, eval docs excluded too) -> deterministic stratified
    sample (50% en / 10% other) -> per-language doc and token accounting.

    The point of composing rather than materializing between steps:
    Catalyst prunes columns across all five stages (text is read once,
    tokenized once for the contamination check), the quality filter
    pushes to the scan, and the whole pipeline is still a declarative
    plan AQE can re-shape at runtime. Same-step semantics as the
    individual queries (dedup_exact / text_decontaminate /
    sample_stratified_hash) — composability is the test.
    """
    d = load_table(spark, sf_dir, "documents")
    quality = d.filter(F.col("n_chars") >= 100).select("doc_id", "text", "lang")
    keep = quality.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    kept0 = quality.join(keep, "doc_id")

    ex = _decon_shingles(spark, sf_dir)
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    eval_shingles = ex.filter(is_eval).select("shingle").distinct()
    contaminated = (
        ex.join(F.broadcast(eval_shingles), "shingle").select("doc_id").distinct()
    )
    clean = (
        kept0.join(contaminated, "doc_id", "left_anti").filter(~is_eval)
    )
    bucket = ((F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)) % 100
    rate = F.when(F.col("lang") == "en", 50).otherwise(10)
    sampled = clean.filter(bucket < rate)
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.expr(_WORDS))).cast("long").alias("n_tokens"),
    )


@query(
    "sample_weighted_bernoulli",
    oracle=r"""
    WITH w AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(text, '\s+'),
                                    x -> x != '')) AS BIGINT) AS n_tokens,
               ((doc_id % 100000007) * 2654435761) % 4294967296 AS h
        FROM documents
    ),
    m AS (SELECT MAX(n_tokens) AS max_tokens FROM w)
    SELECT doc_id, n_tokens
    FROM w, m
    WHERE h * max_tokens < n_tokens * 4294967296
    """,
)
def sample_weighted_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-biased (weighted Bernoulli) corpus sampling: keep each document
    with probability n_tokens / max(n_tokens) — the curation primitive for
    token-budget-aware subsampling where longer (or higher-quality-
    weighted) documents should be overrepresented.

    Determinism contract: the uniform draw is the Knuth multiplicative
    hash of doc_id scaled to [0, 2^32) and the keep test is the EXACT
    integer cross-multiplication ``h * max_w < w * 2^32`` — no floating
    division, so Spark and DuckDB agree bit-for-bit (the repo's
    hash-sampling convention; see split_hash_8020). Overflow safety: the
    key is reduced mod the prime 100000007 BEFORE the Knuth multiply
    (1e8 * 2.65e9 ≈ 2.7e17 < 2^63), so a 100 TB corpus with multi-billion
    doc_ids neither wraps in Spark's non-ANSI arithmetic nor raises
    DuckDB's overflow error; h < 2^32 and token counts < 2^31 keep the
    compare products inside BIGINT too.

    Scale shape: one scan computes weights map-side; the global max is a
    1-row aggregate broadcast back (no shuffle of the fact side); the
    filter is a pushed-down scalar predicate. Changing the weight column
    (quality score, dedup cluster size) changes the policy, not the plan.
    """
    d = load_table(spark, sf_dir, "documents")
    w = d.select(
        "doc_id",
        F.expr(f"cast(size({_WORDS}) as long)").alias("n_tokens"),
        (((F.col("doc_id") % F.lit(100000007)) * F.lit(2654435761))
         % F.lit(4294967296)).alias("h"),
    )
    m = w.agg(F.max("n_tokens").alias("max_tokens"))
    return (
        w.crossJoin(F.broadcast(m))
        .filter(F.col("h") * F.col("max_tokens")
                < F.col("n_tokens") * F.lit(4294967296))
        .select("doc_id", "n_tokens")
    )


@query(
    "pack_sequences_audit",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(len({_DUCK_WORDS})), 0) AS BIGINT)
               AS total_tokens,
           TRUE AS each_doc_once,
           TRUE AS capacity_ok,
           TRUE AS bins_within_bounds
    FROM documents
    """,
)
def pack_sequences_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sequence-packing contract made oracle-checkable: FFD bin
    state is not SQL-expressible, but the packing's invariants are — one
    row with the doc count and exact token total (both predicted by the
    oracle from the raw corpus: packing must neither drop nor duplicate
    anything) plus three in-plan booleans: every input ROW assigned
    exactly once, every multi-doc bin within PACK_CONTEXT (oversized
    docs sit alone in their bin by design), and the bin count between
    the token lower bound ceil(total/context) and the doc count. A
    packer bug — lost doc, overfilled bin, one-doc-per-bin degeneration
    — flips a hashed value.

    Exactly-once is ROW multiplicity, not doc_id uniqueness: packing
    preserves whatever multiplicity the (already-deduped-upstream)
    corpus has — a duplicated doc_id (r12 dup replica) packs twice by
    design — so the invariant compares packed row count AND distinct
    doc_id count against the raw corpus, not count vs countDistinct.

    Scale: the packing itself (hash-sharded applyInPandas) plus two
    small aggregates over its (docs)-sized output and one over the raw
    corpus."""
    packed = pack_sequences(spark, sf_dir)
    src_stats = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("src_rows"),
        F.countDistinct("doc_id").alias("src_ids"),
    )
    per_bin = packed.groupBy("shard", "bin_id").agg(
        F.sum("n_tokens").alias("fill"),
        F.count(F.lit(1)).alias("n_in_bin"),
    )
    bin_stats = per_bin.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.max(F.when(F.col("n_in_bin") > 1, F.col("fill"))).alias("max_multi_fill"),
    )
    doc_stats = packed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("n_docs"),
        # coalesce: SUM over zero docs is NULL (r11 degenerate gate) —
        # an empty corpus packs to 0 tokens in 0 bins, which is a PASS
        F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("total_tokens"),
        # lower bound must cap oversized docs at the context size: a
        # 10x-context doc fills ONE bin, not ten
        F.coalesce(
            F.sum(F.least(F.col("n_tokens"), F.lit(PACK_CONTEXT))), F.lit(0)
        ).alias("capped_tokens"),
    )
    return (
        doc_stats.crossJoin(F.broadcast(bin_stats))
        .crossJoin(F.broadcast(src_stats))
        .select(
            F.col("n_rows").cast("long").alias("n_docs"),
            F.col("total_tokens").cast("long").alias("total_tokens"),
            (
                (F.col("n_rows") == F.col("src_rows"))
                & (F.col("n_docs") == F.col("src_ids"))
            ).alias("each_doc_once"),
            (
                F.coalesce(F.col("max_multi_fill"), F.lit(0)) <= PACK_CONTEXT
            ).alias("capacity_ok"),
            (
                (F.col("n_bins") >= F.ceil(F.col("capped_tokens") / F.lit(float(PACK_CONTEXT))))
                & (F.col("n_bins") <= F.col("n_rows"))
            ).alias("bins_within_bounds"),
        )
    )


@query(
    "text_bloom_decontaminate",
    oracle=rf"""
    WITH words AS (
        SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(w[i : i + {DECON_NGRAM - 1}], ' ')
                              FOR i IN range(1, greatest(len(w) - {DECON_NGRAM - 2}, 1))])
                   AS shingles
        FROM words
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    ev AS (SELECT DISTINCT shingle FROM ex WHERE doc_id % {EVAL_MOD} = 0),
    leaked AS (
        SELECT DISTINCT e.doc_id
        FROM ex e JOIN ev USING (shingle)
        WHERE e.doc_id % {EVAL_MOD} <> 0
    )
    SELECT CAST((SELECT count(*) FROM documents
                 WHERE doc_id % {EVAL_MOD} <> 0) AS BIGINT) AS n_train_docs,
           CAST((SELECT count(*) FROM leaked) AS BIGINT) AS n_contaminated,
           TRUE AS bloom_catches_all,
           TRUE AS candidate_inflation_ok
    """,
)
def text_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase decontamination: Bloom pre-filter, exact verify — the
    shape that survives when the eval-set n-gram list is itself too big
    to broadcast as exact strings (a ~12-bits-per-shingle bitmap
    replaces hundreds of MB of 8-gram text; the exact join then touches
    only the bloom's candidate shingles, orders of magnitude fewer than
    the corpus).

    Checked values: the exact training-doc and contaminated-doc counts
    (identical algebra to text_decontaminate's oracle) plus the two
    phase-contract booleans — the bloom pass may never drop a truly
    leaked shingle (no false negatives), and candidate inflation stays
    inside the fp band (candidates <= leaked + 1% of clean shingles + 1).
    Sizing: the bitmap is sized from the eval set's own distinct-shingle
    count (bloom_size_bits: ~12 bits per shingle, next power of two) —
    the fp band is a function of m/n, so sizing m with n keeps the
    contract booleans green at every scale factor, and the count job
    runs on the eval side, the small side by construction.
    """
    from databricks_feature_store_poc_spark.operators.bloom import (
        bloom_build,
        bloom_probe,
        bloom_size_bits,
    )

    d = load_table(spark, sf_dir, "documents")
    ex = _decon_shingles(spark, sf_dir)
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    eval_shingles = ex.filter(is_eval).select("shingle").distinct()
    train_shingles = ex.filter(~is_eval).select("doc_id", "shingle")

    m_bits = bloom_size_bits(eval_shingles.count())
    bloom = bloom_build(eval_shingles, "shingle", m_bits)
    # One pass marks every distinct training shingle with both verdicts:
    # the bloom's (bloom_pass) and the exact truth (leaked) — all the
    # contract aggregates then come from a single table instead of
    # re-probing per metric.
    marked = (
        bloom_probe(
            train_shingles.select("shingle").distinct(), "shingle", bloom, m_bits
        )
        .join(eval_shingles.withColumn("lk", F.lit(True)), "shingle", "left")
        .select(
            "shingle", "bloom_pass", F.coalesce("lk", F.lit(False)).alias("leaked")
        )
        # localCheckpoint (r17 optimization): marked is the decision
        # table (guide §8 — decide on the lightweight proxy once) and is
        # consumed by TWO branches (sh_stats aggregate, phase-2 verified
        # filter); without truncation the probe's explode + bitmap join
        # + groupBy re-executes per branch. One row per DISTINCT train
        # shingle with two booleans — the cheapest representation of
        # this corpus the query ever holds.
        .transform(_ckpt)
    )
    sh_stats = marked.agg(
        F.count(F.lit(1)).alias("n_train_shingles"),
        F.count_if(F.col("bloom_pass")).alias("n_candidates"),
        F.count_if(F.col("leaked")).alias("n_leaked_shingles"),
        # the bloom candidate set must contain every truly leaked
        # shingle: leaked-but-not-candidate count == 0
        F.count_if(F.col("leaked") & ~F.col("bloom_pass")).alias("n_missed"),
    )
    # phase 2: exact verification restricted to the candidate shingles
    verified = marked.filter(F.col("bloom_pass") & F.col("leaked")).select("shingle")
    contaminated = (
        train_shingles.join(F.broadcast(verified), "shingle")
        .select("doc_id").distinct()
    )
    n_train = d.filter(~is_eval).agg(F.count(F.lit(1)).alias("n_train_docs"))
    n_cont = contaminated.agg(F.count(F.lit(1)).alias("n_contaminated"))
    return (
        n_train.crossJoin(F.broadcast(n_cont))
        .crossJoin(F.broadcast(sh_stats))
        .select(
            "n_train_docs",
            "n_contaminated",
            (F.col("n_missed") == 0).alias("bloom_catches_all"),
            (
                F.col("n_candidates")
                <= F.col("n_leaked_shingles")
                + (F.col("n_train_shingles") - F.col("n_leaked_shingles"))
                * 0.01
                + 1
            ).alias("candidate_inflation_ok"),
        )
    )


@query(
    "pipeline_incremental_curate",
    oracle=f"""
    WITH arriving AS (
        SELECT doc_id, text,
               CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_tokens
        FROM documents WHERE doc_id % 10 = 4
    ),
    existing AS (
        SELECT md5(text) AS h FROM documents WHERE doc_id % 10 <> 4
    ),
    passq AS (SELECT * FROM arriving WHERE n_tokens >= 20),
    novel AS (
        -- h IS NOT NULL guard: one NULL-text doc in the existing corpus
        -- would otherwise turn NOT IN into never-true (SQL three-valued
        -- logic) and report 0 novel docs; Spark's left_anti join has
        -- no such trap (NULL never equals)
        SELECT * FROM passq
        WHERE md5(text) NOT IN (SELECT h FROM existing WHERE h IS NOT NULL)
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM arriving) AS n_arriving,
           (SELECT CAST(count(*) AS BIGINT) FROM passq) AS n_pass_quality,
           (SELECT CAST(count(*) AS BIGINT) FROM novel) AS n_novel,
           (SELECT CAST(coalesce(SUM(n_tokens), 0) AS BIGINT) FROM novel)
               AS tokens_added
    """,
)
def pipeline_incremental_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus curation — the daily-operations capstone: only
    TODAY'S arrivals (the CDF insert feed; here the doc_id%10==4 cohort)
    flow through the curation stages, and cross-corpus exact dedup runs
    as an ANTI-JOIN of the small arrival batch against the existing
    corpus's content-hash index. Cost is O(new docs) + one index probe —
    never a re-curation of the accumulated corpus, which is the only
    shape that survives a corpus that grows to 100 TB (at which point
    the hash index probe becomes the Bloom pre-filter of
    text_bloom_decontaminate / agg_bloom_filter, same algebra).

    Stages: arrival accounting -> rule-based quality gate (>= 20
    whitespace tokens — the integer-exact stand-in for the
    text_quality_score threshold) -> novelty anti-join -> token-budget
    accounting. One row out; every number is an exact BIGINT the oracle
    recomputes from the same stage definitions.
    """
    d = load_table(spark, sf_dir, "documents")
    arriving = d.filter(F.col("doc_id") % 10 == 4).select(
        "doc_id",
        F.expr(f"CAST(size({_WORDS}) AS BIGINT)").alias("n_tokens"),
        F.md5(F.col("text")).alias("h"),
    )
    existing = d.filter(F.col("doc_id") % 10 != 4).select(
        F.md5(F.col("text")).alias("h")
    )
    passq = arriving.filter(F.col("n_tokens") >= 20)
    novel = passq.join(existing, "h", "left_anti")
    r_arr = arriving.agg(F.count(F.lit(1)).alias("n_arriving"))
    r_q = passq.agg(F.count(F.lit(1)).alias("n_pass_quality"))
    r_n = novel.agg(
        F.count(F.lit(1)).alias("n_novel"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias(
            "tokens_added"
        ),
    )
    return r_arr.crossJoin(F.broadcast(r_q)).crossJoin(F.broadcast(r_n))


@query(
    "pipeline_dataset_mixture",
    oracle="""
    WITH d AS (
        SELECT doc_id, source,
               CAST(n_chars // 4 AS BIGINT) AS n_tokens,
               300 * (COALESCE(TRY_CAST(substr(source, 4) AS BIGINT) % 4, 0)
                      + 1) AS budget_tokens,
               (doc_id * 2654435761) % 4294967296 AS pri
        FROM documents
    ),
    c AS (
        SELECT *,
               SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY pri, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_tokens
        FROM d
    )
    SELECT source, budget_tokens,
           CAST(count(*) AS BIGINT) AS n_docs_selected,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_selected,
           CAST(sum(doc_id) AS BIGINT) AS doc_id_checksum
    FROM c
    WHERE cum_tokens <= budget_tokens
    GROUP BY source, budget_tokens
    """,
)
def pipeline_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture composition: each source gets a TOKEN budget (the
    mixture weight x total budget — here a deterministic per-source
    schedule, 300-1200 tokens), and docs are admitted in a deterministic
    hash-priority order until the budget is exhausted — the operation
    that turns "web 50% / books 30% / code 20%" into an actual document
    selection for a pretraining run.

    Mechanics: priority = Knuth multiplicative hash of doc_id (the
    repo's cross-engine split convention — uniform, reproducible, and
    independent of layout), token cost = the cheap ``n_chars div 4``
    estimator, cut = inclusive running sum <= budget (window per
    source). The per-source result carries a selected-doc_id checksum,
    so the oracle verifies WHICH docs made the mixture, not just how
    many. At 100 TB: one shuffle on source for the running-sum window —
    and a skewed giant source can first be pre-cut per partition (any
    doc whose within-partition prefix already exceeds the budget can be
    dropped before the shuffle) since the hash order is layout-free;
    the final aggregate is |sources| rows.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.expr("CAST(n_chars div 4 AS BIGINT)").alias("n_tokens"),
        # try_cast, not CAST: a single source name that doesn't follow
        # the 'src<N>' convention must not abort the whole mixture job
        # (ANSI CAST raises executor-side — the r12 dup replica's
        # 'dup_source' rows killed the query). Unknown sources get the
        # base 300-token budget, pinned identically in the oracle.
        F.expr(
            "300 * (COALESCE(TRY_CAST(substring(source, 4, 18) AS BIGINT)"
            " % 4, 0) + 1)"
        ).alias("budget_tokens"),
        F.expr("(doc_id * 2654435761) % 4294967296").alias("pri"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("pri", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return (
        c.filter(F.col("cum_tokens") <= F.col("budget_tokens"))
        .groupBy("source", "budget_tokens")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_selected"),
            F.sum("n_tokens").cast("long").alias("tokens_selected"),
            F.sum("doc_id").cast("long").alias("doc_id_checksum"),
        )
    )
