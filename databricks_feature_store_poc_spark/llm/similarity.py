"""Similarity search over the embeddings table (north-star, SURVEY §2/M5).

Two routes to top-k cosine neighbors:

- ``sim_cosine_topk`` — brute-force: broadcast the (small) query set
  against the full corpus, JVM higher-order-function dot products, window
  top-k. Exact; oracle-checked against DuckDB `list_dot_product`. This is
  the correctness baseline AND the right plan whenever |queries| is small:
  cost is |Q| x |corpus| map-side work with zero shuffle of the corpus.
- ``sim_ann_lsh`` — random-hyperplane LSH: 4 hash tables x 4 signed
  projections = 4-bit bucket keys; candidates are corpus vectors sharing
  any table bucket with the query; exact cosine rerank on candidates only.
  At 100 TB this is the scale path: bucket join instead of cross product,
  cost ~ |Q| x (corpus / 2^bits) per table. Probabilistic recall =>
  rows-only check, with recall-vs-brute-force pinned in tests/test_llm.py.

The hyperplanes are deterministic (seeded from sha256, generated
driver-side as literals) so every run and both the batch and test paths
see identical buckets.
"""

from __future__ import annotations

import hashlib
import os
import struct

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from databricks_feature_store_poc_spark.cacheutil import memo
from databricks_feature_store_poc_spark.registry import query
from databricks_feature_store_poc_spark.sources.catalog import (
    load_table,
    parquet_row_count,
)

N_QUERIES = 10      # vec_id < 10 are the query vectors
TOP_K = 5
K_CELLS = 16        # IVF coarse cells
NPROBE = 6          # IVF cells probed per query (r11: 4 left no margin over the
                    # 0.5 recall floor — 0.48 on the sf0.1 adversarial corpus)
SAMPLE_CAP = 65_536  # IVF fit-sample rows collected to the driver (~32 MB at dim 64)
DIM = 64
N_TABLES = 4
BITS_PER_TABLE = 4

_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (s, x) -> s + x)"

# Vector-validity contract (r11 adversarial hardening): similarity is
# defined only over valid vectors — non-NULL, exactly DIM elements, no
# NULL elements, nonzero norm. Cosine against a zero or NULL vector is
# 0/0 (NaN on Spark, error-or-NULL on DuckDB); rather than pick a fake
# value, degenerate rows are EXCLUDED from both query and corpus sides
# on both engines. A 100 TB corpus always contains such rows; an ANN
# index that admits them divides by zero at query time.
_VALID_VEC_SPARK = (
    "embedding IS NOT NULL AND size(embedding) = {dim} "
    "AND NOT exists(embedding, x -> x IS NULL) "
    "AND exists(embedding, x -> x <> 0)"
)
_VALID_VEC_DUCK = (
    "embedding IS NOT NULL AND len(embedding) = {dim} "
    "AND len(list_filter(embedding, x -> x IS NULL)) = 0 "
    "AND list_dot_product(CAST(embedding AS DOUBLE[]), "
    "CAST(embedding AS DOUBLE[])) > 0"
)
_VALID_VEC_DUCK_64 = _VALID_VEC_DUCK.format(dim=DIM)


def _as_double(col: str) -> F.Column:
    return F.expr(f"transform({col}, x -> cast(x as double))")


def _valid(e: DataFrame) -> DataFrame:
    """Apply the vector-validity contract (see _VALID_VEC_SPARK)."""
    return e.filter(F.expr(_VALID_VEC_SPARK.format(dim=DIM)))


def _with_norm(df: DataFrame, vec: str = "e") -> DataFrame:
    return df.withColumn("nrm", F.sqrt(F.expr(_DOT.format(a=vec, b=vec))))


def hyperplane(table: int, bit: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane: 64 weights in
    [-1, 1), each derived from sha256(table, bit, dim). No RNG state —
    reproducible across processes, executors, and rounds."""
    w = []
    for d in range(DIM):
        digest = hashlib.sha256(f"lsh:{table}:{bit}:{d}".encode()).digest()
        (u,) = struct.unpack("<Q", digest[:8])
        w.append((u % 2_000_000) / 1_000_000.0 - 1.0)
    return w


@query(
    "sim_cosine_topk",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings WHERE {_VALID_VEC_DUCK_64}
    )
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) AS cosine
    FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
    QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm) DESC, c.vec_id
    ) <= {TOP_K}
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for the 10 query vectors.

    Plan shape: the query side is broadcast (it is tiny by construction),
    so the corpus scan is map-only — each corpus partition computes dots
    against all queries locally; the only shuffle is the per-query top-k
    window over |Q| x k candidate rows. Ranking ties break on neighbor_id
    so the cut is deterministic.
    """
    e = load_table(spark, sf_dir, "embeddings")
    v = _with_norm(_valid(e).select("vec_id", _as_double("embedding").alias("e")))
    q = v.filter(f"vec_id < {N_QUERIES}").toDF("query_id", "q_e", "q_n")
    c = v.toDF("neighbor_id", "c_e", "c_n")
    pairs = F.broadcast(q).join(c, F.expr("neighbor_id != query_id"))
    return _top_k_by_cosine(pairs)


def _top_k_by_cosine(pairs: DataFrame) -> DataFrame:
    """Per query_id, the TOP_K (query_id, neighbor_id, cosine) rows of
    ``pairs`` (q_e, q_n, c_e, c_n) by exact cosine, ties broken on
    neighbor_id; cosine rounded to 6 decimals after ranking. Written as
    SQL expression strings: one py4j round-trip per expression."""
    cos = f"({_DOT.format(a='q_e', b='c_e')}) / (q_n * c_n)"
    return (
        pairs.selectExpr("query_id", "neighbor_id", f"{cos} AS cos_raw")
        .selectExpr(
            "*", "row_number() OVER (PARTITION BY query_id"
            " ORDER BY cos_raw DESC, neighbor_id) AS rn",
        )
        .filter(f"rn <= {TOP_K}")
        .selectExpr("query_id", "neighbor_id", "round(cos_raw, 6) AS cosine")
    )


def sim_ann_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via random-hyperplane LSH.

    Each vector gets N_TABLES bucket keys (one per hash table; each key is
    BITS_PER_TABLE sign bits of projections onto fixed hyperplanes).
    Query x corpus candidates = equi-join on (table, bucket) — the 100 TB
    move: the corpus is hashed once and the join touches only same-bucket
    rows (expected corpus/2^bits per table). Candidates are reranked with
    exact cosine; per-query top-5 of the candidate set is emitted.
    Output schema matches sim_cosine_topk so the recall test can diff.
    """

    def build() -> DataFrame:
        planes = [
            [hyperplane(t, b) for b in range(BITS_PER_TABLE)] for t in range(N_TABLES)
        ]

        def bucket_expr(t: int) -> F.Column:
            bits = []
            for b in range(BITS_PER_TABLE):
                arr = "array({})".format(
                    ", ".join(f"{w!r}D" for w in planes[t][b])
                )
                proj = _DOT.format(a="e", b=arr)
                bits.append(f"(CASE WHEN {proj} > 0 THEN {1 << b} ELSE 0 END)")
            return F.expr(" + ".join(bits)).alias(f"bkt{t}")

        e = load_table(spark, sf_dir, "embeddings")
        v = _with_norm(_valid(e).select("vec_id", _as_double("embedding").alias("e")))
        return v.select(
            "vec_id", "e", "nrm", *[bucket_expr(t) for t in range(N_TABLES)]
        )

    # The bucket table IS the LSH index — persist it so the query and
    # corpus sides of the probe join (and the recall audit's second
    # consumer) reuse one hashing pass instead of re-projecting the
    # corpus per occurrence; memoized so repeated calls in one session
    # (audit + pairs + bench + tests) share ONE cached copy instead of
    # pinning a new one each call. At scale this materialization is the
    # index build every LSH deployment performs once at ingest.
    src = [os.path.join(sf_dir, "embeddings.parquet")]
    hashed = memo(spark, "lsh_index", src, build, persist=True)
    buckets = hashed.select(
        "vec_id", "e", "nrm",
        F.explode(
            F.array(*[
                F.struct(F.lit(t).alias("tbl"), F.col(f"bkt{t}").alias("bkt"))
                for t in range(N_TABLES)
            ])
        ).alias("tb"),
    ).select("vec_id", "e", "nrm", F.col("tb.tbl").alias("tbl"), F.col("tb.bkt").alias("bkt"))

    # Multiprobe: the query side also probes every bucket within Hamming
    # distance 1 of its own (flip each sign bit once). Vectors near a
    # hyperplane land on either side arbitrarily; probing the adjacent
    # buckets recovers them for ~(BITS+1)x candidate cost on the QUERY
    # side only — the corpus is still hashed exactly once.
    probe = F.explode(
        F.array(
            F.col("bkt"),
            *[
                F.col("bkt").bitwiseXOR(F.lit(1 << b))
                for b in range(BITS_PER_TABLE)
            ],
        )
    )
    q = (
        buckets.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"), F.col("e").alias("q_e"),
            F.col("nrm").alias("q_n"), "tbl", probe.alias("bkt"),
        )
    )
    c = buckets.select(
        F.col("vec_id").alias("neighbor_id"), F.col("e").alias("c_e"),
        F.col("nrm").alias("c_n"), "tbl", "bkt",
    )
    candidates = (
        F.broadcast(q)
        .join(c, ["tbl", "bkt"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "q_e", "q_n", "c_e", "c_n")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _top_k_by_cosine(candidates)


def _ivf_fit(spark: SparkSession, sf_dir: str):
    """Fit-and-assign for the IVF index: returns (assigned, centers)
    where ``assigned`` is the persisted (vec_id, e, nrm, cell, d2)
    corpus and ``centers`` the K_CELLS x DIM centroid lists. Both are one
    persisted memo entry, so the float and quantized searches share ONE
    fit and ONE assignment pass.

    ``d2`` is NULL on corpus rows; on query rows (vec_id < N_QUERIES) it
    holds the squared distance to each centroid, in cell order, which is
    all ``_ivf_probed_queries`` needs to rank cells. The assignment
    kernel computes it next to ``cell`` from the same broadcast matrix,
    as the left fold Spark's ``aggregate(zip_with(e, c, (x - y) *
    (x - y)), 0D, (s, x) -> s + x)`` runs, so the values are the ones
    that expression gives, bit for bit, without k x dim literals in the
    plan.

    The second ANN scale path next to sim_ann_lsh, with the opposite
    trade-off: LSH needs no training and handles streaming inserts;
    IVF's learned cells adapt to the data distribution (higher recall per
    candidate at the cost of a clustering pass). The 100 TB shape, which
    this implements literally: centroids are FIT ON A BOUNDED SAMPLE
    (deterministic hash-sample, numpy Lloyd on the driver — standard IVF
    practice; a distributed fit of 16 centroids would spend its time on
    per-iteration job scheduling, not arithmetic), the k x dim centroid
    matrix is broadcast, corpus assignment is one Arrow-batched map-only
    pass (matmul argmin per batch), and the probe join touches
    |Q| x nprobe cells — cost scales with corpus/k per cell, never
    all-pairs.

    Deterministic: the sample is a vec_id-hash filter sorted before the
    fit and Lloyd is seeded; recall vs the exact brute force is pinned in
    tests/test_llm.py. The valid-row count that sizes the hash filter is
    a Spark job, so it is skipped when the parquet footers already show
    at most SAMPLE_CAP rows: the whole corpus is then the sample either
    way.
    """
    import numpy as np

    def fit() -> tuple[DataFrame, list]:
        e = load_table(spark, sf_dir, "embeddings")
        v = _with_norm(_valid(e).select("vec_id", _as_double("embedding").alias("e")))

        # the footers bound the valid-row count from above
        n_corpus = parquet_row_count(sf_dir, "embeddings")
        if n_corpus is None or n_corpus > SAMPLE_CAP:
            n_corpus = v.count()
        sample = v
        if n_corpus > SAMPLE_CAP:
            # keep ~SAMPLE_CAP rows via a deterministic hash mod — same rows
            # every run at every partitioning, unlike fraction-sampling.
            denom = 1_000_000
            keep = int(denom * SAMPLE_CAP / n_corpus)
            sample = v.filter(F.pmod(F.xxhash64("vec_id"), F.lit(denom)) < keep)
        rows = sorted(
            sample.select("vec_id", "e").collect(), key=lambda r: r["vec_id"]
        )
        if not rows:
            # degenerate corpus (r11): nothing to fit — an empty assignment
            # with zero centers, so the probe list and the search are empty
            return v.select(
                "*", F.lit(0).cast("int").alias("cell"),
                F.lit(None).cast("array<double>").alias("d2"),
            ).limit(0), []
        X = np.array([r["e"] for r in rows], dtype=np.float64)

        def lloyd(X: np.ndarray, k: int, iters: int = 20, seed: int = 42) -> np.ndarray:
            rng = np.random.RandomState(seed)
            k = min(k, len(X))
            # k-means++ seeding
            chosen = [int(rng.randint(len(X)))]
            d2 = ((X - X[chosen[0]]) ** 2).sum(axis=1)
            for _ in range(1, k):
                total = d2.sum()
                if total <= 0:
                    chosen.append(int(rng.randint(len(X))))
                else:
                    chosen.append(int(rng.choice(len(X), p=d2 / total)))
                d2 = np.minimum(d2, ((X - X[chosen[-1]]) ** 2).sum(axis=1))
            C = X[chosen].copy()
            for _ in range(iters):
                # |x-c|^2 = |x|^2 - 2 x.c + |c|^2 ; |x|^2 constant for argmin
                assign = ((C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T)).argmin(axis=1)
                newC = np.array(
                    [
                        X[assign == j].mean(axis=0) if (assign == j).any() else C[j]
                        for j in range(k)
                    ]
                )
                if np.allclose(newC, C, atol=1e-9):
                    break
                C = newC
            return C

        C = lloyd(X, K_CELLS)
        bc = spark.sparkContext.broadcast(C)

        @F.pandas_udf("struct<cell: int, d2: array<double>>")
        def cell_of(vec_id: pd.Series, emb: pd.Series) -> pd.DataFrame:
            cen = bc.value
            M = np.array(list(emb), dtype=np.float64)
            d2 = (cen * cen).sum(axis=1)[None, :] - 2.0 * (M @ cen.T)
            probe = [None] * len(M)
            is_q = (vec_id < N_QUERIES).to_numpy()
            if is_q.any():
                # one (x - c)^2 term per dimension, added left to right
                # from 0.0: the order Spark's aggregate folds in
                Q = M[is_q]
                acc = np.zeros((len(Q), len(cen)))
                for j in range(Q.shape[1]):
                    diff = Q[:, j:j + 1] - cen[None, :, j]
                    acc = acc + diff * diff
                for i, row in zip(np.flatnonzero(is_q), acc):
                    probe[i] = row
            return pd.DataFrame(
                {"cell": d2.argmin(axis=1).astype("int32"), "d2": probe}
            )

        centers = [list(map(float, c)) for c in C]
        kernel = cell_of("vec_id", "e")
        return v.select(
            "*", kernel["cell"].alias("cell"), kernel["d2"].alias("d2")
        ), centers

    # The cell assignment IS the IVF index — persist it so the query
    # side, the corpus side of the probe join, and the recall audit all
    # reuse one Arrow assignment pass; memoized like the LSH index so
    # repeated calls share one cached copy. At scale this
    # materialization is the index build every IVF deployment performs
    # once at ingest.
    src = [os.path.join(sf_dir, "embeddings.parquet")]
    return memo(spark, "ivf_index", src, fit, persist=True)


def _ivf_probed_queries(assigned: DataFrame) -> DataFrame:
    """Query side of IVF search: rank the cells by the query row's
    centroid distances (``d2``, from the assignment kernel) and keep the
    NPROBE nearest, ties broken by cell. The window is per query_id, so
    query rows that share a vec_id share one NPROBE budget. Returns
    (query_id, q_e, q_n, cell)."""
    return (
        assigned.filter(f"vec_id < {N_QUERIES}")
        .selectExpr(
            "vec_id AS query_id", "e AS q_e", "nrm AS q_n",
            "posexplode(d2) AS (cell, d2)",
        )
        .selectExpr(
            "*", "row_number() OVER (PARTITION BY query_id"
            " ORDER BY d2, cell) AS pr",
        )
        .filter(f"pr <= {NPROBE}")
        .select("query_id", "q_e", "q_n", "cell")
    )


def _ivf_rerank(probed: DataFrame, candidates: DataFrame) -> DataFrame:
    """Probe join + exact cosine rerank: broadcast the (|Q| x nprobe)
    probe list onto the cell-bucketed candidate table and keep the top-k
    by cosine. ``candidates`` must carry (neighbor_id, c_e, c_n, cell)."""
    cand = (
        F.broadcast(probed)
        .join(candidates, "cell")
        .filter("neighbor_id != query_id")
    )
    return _top_k_by_cosine(cand)


def sim_ivf_topk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 neighbors via IVF: probe the NPROBE nearest of
    K_CELLS learned cells, rerank candidates by exact float cosine. See
    _ivf_fit for the index build and the 100 TB cost shape."""
    assigned, _ = _ivf_fit(spark, sf_dir)
    probed = _ivf_probed_queries(assigned)
    c = assigned.selectExpr(
        "vec_id AS neighbor_id", "e AS c_e", "nrm AS c_n", "cell"
    )
    return _ivf_rerank(probed, c)


# int8 symmetric quantization of the stored candidate vectors — the same
# scheme embed_quantize_int8 oracle-checks elementwise (q = round(x*127/
# amax), dequant = q*amax/127). Queries stay float: asymmetric search,
# the standard production memory-saving composition (a 100 TB corpus
# stores 1/4 the bytes; only the k x dim query side stays fp64).
_DEQUANT = (
    "transform({e}, x -> (CAST(CAST(floor((x * 127.0) / {amax} + 0.5) AS BIGINT)"
    " AS DOUBLE) * {amax}) / 127.0)"
)


def sim_ivf_quantized_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over the int8-QUANTIZED index: identical fit, probe
    list, and rerank as sim_ivf_topk_pairs, but candidate vectors are
    reconstructed from their int8 codes, so ranking sees exactly the
    information a quantized index would retain. Zero-vector rows keep
    their float form (amax = 0 has no int8 code) — they rank last under
    cosine either way."""
    assigned, _ = _ivf_fit(spark, sf_dir)
    probed = _ivf_probed_queries(assigned)
    dq = _DEQUANT.format(e="e", amax="amax")
    c = (
        assigned.withColumn(
            "amax", F.expr("array_max(transform(e, x -> abs(x)))")
        )
        .withColumn("c_e", F.when(F.col("amax") > 0, F.expr(dq)).otherwise(F.col("e")))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            "c_e",
            F.sqrt(F.expr(_DOT.format(a="c_e", b="c_e"))).alias("c_n"),
            "cell",
        )
    )
    return _ivf_rerank(probed, c)


# -- Oracle-checkable ANN contracts -----------------------------------------
#
# An ANN result set is approximate by definition, so a SQL oracle cannot
# predict WHICH neighbors come back — but it can assert the contract that
# makes the result USEFUL: recall against the exact brute force. Same
# move as the r3 approx-aggregate sketches (exact value + error-band
# boolean): the registered query computes recall IN-PLAN against the
# exact top-k and emits one row per query with a recall_ok boolean; the
# oracle asserts the deterministic half (query ids, k) and literal TRUE.
# A recall regression — different hyperplanes, broken bucketing, a
# centroid fit gone wrong — flips the boolean and the driver's value
# hash goes red. The per-neighbor outputs stay available to users via
# sim_ann_lsh_pairs / sim_ivf_topk_pairs.
#
# Floors are set from measured GLOBAL recall at sf0.001/0.01/0.1:
# LSH 0.94 at all three (floor 0.9); IVF 0.76-0.80 with nprobe=6 of 16
# cells (floor 0.5 with real margin — r11 raised nprobe from 4 after
# the sf0.1 adversarial corpus measured 0.48 under the old 25% budget:
# a shipped recall contract needs headroom across distributions, and
# tuning the floor down instead would make it meaningless; adversarial
# recall at nprobe=6 is 0.62).

RECALL_FLOOR_LSH = 0.9
RECALL_FLOOR_IVF = 0.5


def _recall_audit(
    exact: DataFrame, ann: DataFrame, floor: float
) -> DataFrame:
    """Per-query (query_id, k, recall_ok) where recall_ok is the GLOBAL
    (hit-weighted) recall of ``ann`` against ``exact`` >= floor — global,
    not per-query, so one hard query among tens of thousands doesn't
    flip the corpus-level contract. All inputs are |Q| x k rows, so every
    join/agg here is driver-trivial next to the searches themselves."""
    # Recall is a SET metric: under duplicate vec_ids (r13 hotdup — one
    # query id re-emitted ~1000x) both the exact and the ANN side emit
    # duplicate (query_id, neighbor_id) rows, and a raw left join fans
    # them out multiplicatively (k inflated ~copy^2 for the hot query).
    # Distinct-project both sides first; k below is then "distinct
    # exact neighbors", which the oracle computes the same way.
    hits = exact.select("query_id", "neighbor_id").distinct().join(
        ann.selectExpr("query_id", "neighbor_id", "1 AS hit").distinct(),
        ["query_id", "neighbor_id"],
        "left",
    )
    per_q = hits.groupBy("query_id").agg(
        F.expr("count(1) AS k"), F.expr("sum(coalesce(hit, 0)) AS n_hit")
    )
    # Global recall via an unpartitioned window over per_q (|Q| rows, one
    # tiny partition) — NOT a separate agg + crossJoin, which would put
    # per_q's lineage (both full searches) in the plan twice and execute
    # the exact AND approximate searches two times each.
    return per_q.selectExpr(
        "query_id",
        "k",
        f"sum(n_hit) OVER () / sum(k) OVER () >= {float(floor)!r}D AS recall_ok",
    )


# The oracle re-derives the EXACT search (same SQL the sim_cosine_topk
# oracle runs — green on every distribution) and pins k as the count of
# DISTINCT exact neighbors per query, because under duplicate vec_ids
# (r13 hotdup) the top-k rows can repeat one neighbor id, so k is
# data-dependent, not the TOP_K constant the pre-r13 oracle emitted
# (that form also emitted one row per PHYSICAL embeddings row — 1009
# rows for 10 logical queries on the hot replica). Vacuity (r11
# degenerate gates) falls out naturally: no candidates -> exact is
# empty -> no rows, exactly what the engine's per_q groupBy emits.
_ANN_EXACT_CTE = f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings WHERE {_VALID_VEC_DUCK_64}
    ),
    exact AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
        QUALIFY row_number() OVER (
            PARTITION BY q.vec_id
            ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm) DESC,
                     c.vec_id
        ) <= {TOP_K}
    )
"""
_ANN_ORACLE = f"""
    {_ANN_EXACT_CTE}
    SELECT query_id, CAST(COUNT(DISTINCT neighbor_id) AS BIGINT) AS k,
           TRUE AS recall_ok
    FROM exact GROUP BY query_id
"""


@query("sim_ann_lsh", oracle=_ANN_ORACLE)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN with its recall contract in-plan: runs the bucketed search
    (sim_ann_lsh_pairs) AND the exact brute force, and emits per-query
    rows asserting global recall >= 0.9 (measured 0.94 at sf0.001/0.01/
    0.1). See _recall_audit for why the oracle can check this."""
    return _recall_audit(
        sim_cosine_topk(spark, sf_dir),
        sim_ann_lsh_pairs(spark, sf_dir),
        RECALL_FLOOR_LSH,
    )


@query("sim_ivf_topk", oracle=_ANN_ORACLE)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with its recall contract in-plan: nprobe=6 of 16 cells
    (a 37.5% probe budget) against the exact brute force, asserting
    global recall >= 0.5 (measured 0.76-0.80 across the three SFs,
    0.62 on the sf0.1 adversarial corpus)."""
    return _recall_audit(
        sim_cosine_topk(spark, sf_dir),
        sim_ivf_topk_pairs(spark, sf_dir),
        RECALL_FLOOR_IVF,
    )


@query(
    "sim_ivf_quantized",
    oracle=f"""
    {_ANN_EXACT_CTE}
    SELECT query_id, CAST(COUNT(DISTINCT neighbor_id) AS BIGINT) AS k,
           TRUE AS recall_ok, TRUE AS delta_ok
    FROM exact GROUP BY query_id
    """,
)
def sim_ivf_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized-index ANN with BOTH contracts in-plan (VERDICT r6
    optional-polish #8): the int8-stored IVF search must (a) keep global
    recall against the exact brute force above the same floor as the
    float index, and (b) cost at most 0.05 recall versus the float IVF
    result on the identical probe budget — the number a production team
    checks before shipping a 4x-smaller index. Measured: quantized
    recall equals float recall at sf0.001/0.01/0.1 (0.60/0.66/0.64)
    with 98-100% per-neighbor agreement, so both booleans hold with
    margin. Fit, assignment, and probe list are shared with
    sim_ivf_topk via the memoized index — the quantized search adds one
    map-side dequantize, no extra fit or shuffle."""
    # distinct pairs on both sides — same set-metric contract as
    # _recall_audit (duplicate vec_ids would otherwise fan the join)
    # NOTE (r17 optimization round): a localCheckpoint here was tried
    # and REVERTED — the two audit sides reference this subtree
    # verbatim (no renames), so AQE's runtime stage reuse already
    # computes it once, and the eager checkpoint job made the query 13%
    # slower in a matched-window A/B (2.41 -> 2.74 s).
    exact = (
        sim_cosine_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .distinct()
    )

    def per_query_hits(ann: DataFrame) -> DataFrame:
        return (
            exact.join(
                ann.select("query_id", "neighbor_id").distinct()
                .withColumn("hit", F.lit(1)),
                ["query_id", "neighbor_id"],
                "left",
            )
            .groupBy("query_id")
            .agg(
                F.count(F.lit(1)).alias("k"),
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
            )
        )

    pq_q = per_query_hits(sim_ivf_quantized_pairs(spark, sf_dir))
    pq_f = per_query_hits(sim_ivf_topk_pairs(spark, sf_dir)).select(
        "query_id",
        F.col("k").alias("f_k"),
        F.col("n_hit").alias("f_hit"),
    )
    w_all = Window.partitionBy()
    recall_q = F.sum("n_hit").over(w_all) / F.sum("k").over(w_all)
    recall_f = F.sum("f_hit").over(w_all) / F.sum("f_k").over(w_all)
    return pq_q.join(pq_f, "query_id").select(
        "query_id",
        "k",
        (recall_q >= RECALL_FLOOR_IVF).alias("recall_ok"),
        (recall_q >= recall_f - 0.05).alias("delta_ok"),
    )


RANGE_THRESHOLD = 0.3


@query(
    "sim_range_search",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings WHERE {_VALID_VEC_DUCK_64}
    )
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) AS cosine
    FROM v q JOIN v c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
    WHERE list_dot_product(q.e, c.e) / (q.nrm * c.nrm) >= {RANGE_THRESHOLD}
    """,
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range search (the top-k dual): ALL neighbors with cosine >=
    {RANGE_THRESHOLD} for each query vector — the retrieval mode behind
    near-duplicate thresholds and recall-complete candidate generation,
    where a fixed k silently truncates dense neighborhoods.

    Same plan family as sim_cosine_topk: queries broadcast, corpus scan
    map-only, but NO window/shuffle at all — the threshold filters in
    the scan stage, so this is strictly cheaper than top-k and the
    output size is data-dependent (the oracle pins it exactly). Both
    engines compute the dot product as the identical left-to-right
    fold, so thresholding cannot flip rows cross-engine.
    """
    e = load_table(spark, sf_dir, "embeddings")
    v = _with_norm(_valid(e).select("vec_id", _as_double("embedding").alias("e")))
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("q_e"),
        F.col("nrm").alias("q_n"),
    )
    c = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("e").alias("c_e"),
        F.col("nrm").alias("c_n"),
    )
    cos = F.expr(_DOT.format(a="q_e", b="c_e")) / (F.col("q_n") * F.col("c_n"))
    return (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine_raw", cos)
        .filter(F.col("cosine_raw") >= RANGE_THRESHOLD)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine_raw", 6).alias("cosine"),
        )
    )


@query(
    "sample_hard_negatives",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings WHERE {_VALID_VEC_DUCK_64}
    )
    SELECT q.vec_id AS query_id, c.vec_id AS negative_id,
           c.label AS negative_label,
           round(list_dot_product(q.e, c.e) / (q.nrm * c.nrm), 6) AS cosine
    FROM v q JOIN v c
      ON q.vec_id < {N_QUERIES} AND c.label <> q.label
    QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm) DESC, c.vec_id,
                 c.label
    ) <= {TOP_K}
    """,
)
def sample_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-5 most-similar vectors carrying a DIFFERENT label —
    the negatives that actually move an embedding model (random
    negatives are trivially separable; hard ones define the margin).

    Identical plan family to sim_cosine_topk — broadcast queries,
    map-only corpus scan, one per-query top-k window — with the label
    inequality folded into the join, so mismatched labels are filtered
    before ranking. Ties break on vec_id; the oracle pins the exact
    negative set.
    """
    e = load_table(spark, sf_dir, "embeddings")
    v = _with_norm(
        _valid(e).select("vec_id", "label", _as_double("embedding").alias("e"))
    )
    q = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("e").alias("q_e"),
        F.col("nrm").alias("q_n"),
    )
    c = v.select(
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        F.col("e").alias("c_e"),
        F.col("nrm").alias("c_n"),
    )
    from pyspark.sql.window import Window

    cos = F.expr(_DOT.format(a="q_e", b="c_e")) / (F.col("q_n") * F.col("c_n"))
    # (cos, id, label) — label appended in r13: under duplicate vec_ids
    # (hotdup replica) two copies of one candidate id can carry
    # bit-identical cosine but DIFFERENT labels, and label is in the
    # output, so the pre-r13 (cos, id) order was not total over the
    # projection (Spark and DuckDB legitimately picked different
    # labels for the cut row).
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_raw"), F.asc("negative_id"), F.asc("negative_label")
    )
    return (
        F.broadcast(q)
        .join(c, F.col("negative_label") != F.col("q_label"))
        .withColumn("cosine_raw", cos)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "negative_id",
            "negative_label",
            F.round("cosine_raw", 6).alias("cosine"),
        )
    )


MMR_QUERY_ID = 0   # the anchor query vector
MMR_CAND = 16      # relevance-ranked candidate pool size
MMR_K = 8          # diversified selections
MMR_LAMBDA = 0.5   # relevance/diversity trade-off


@query(
    "sim_mmr_diversify",
    oracle=f"""
    WITH RECURSIVE v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings WHERE {_VALID_VEC_DUCK_64}
        QUALIFY row_number() OVER (
            PARTITION BY vec_id ORDER BY CAST(embedding AS DOUBLE[])
        ) = 1
    ),
    q AS (SELECT e, nrm FROM v WHERE vec_id = {MMR_QUERY_ID}),
    cand AS (
        SELECT c.vec_id, c.e, c.nrm,
               list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS rel
        FROM v c, q WHERE c.vec_id <> {MMR_QUERY_ID}
        ORDER BY rel DESC, c.vec_id LIMIT {MMR_CAND}
    ),
    pair AS (
        SELECT a.vec_id AS i, b.vec_id AS j,
               list_dot_product(a.e, b.e) / (a.nrm * b.nrm) AS sim
        FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ),
    sel AS (
        SELECT 1 AS step,
               [(SELECT vec_id FROM cand
                 ORDER BY rel DESC, vec_id LIMIT 1)] AS picked
        UNION ALL
        SELECT step + 1,
               list_append(picked, (
                   SELECT c.vec_id FROM cand c
                   WHERE NOT list_contains(sel.picked, c.vec_id)
                   ORDER BY {MMR_LAMBDA} * c.rel - {1 - MMR_LAMBDA} * (
                       SELECT max(p.sim) FROM pair p
                       WHERE p.i = c.vec_id AND list_contains(sel.picked, p.j)
                   ) DESC, c.vec_id
                   LIMIT 1))
        FROM sel WHERE step < {MMR_K}
    ),
    final AS (SELECT picked FROM sel WHERE step = {MMR_K}),
    outp AS (
        SELECT CAST(t.i AS BIGINT) AS rank, picked[t.i] AS vec_id
        FROM final, generate_series(1, {MMR_K}) AS t(i)
    )
    SELECT o.rank, o.vec_id, round(c.rel, 6) AS relevance
    FROM outp o JOIN cand c ON c.vec_id = o.vec_id
    """,
)
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking: from the anchor query's
    top-{MMR_CAND} cosine candidates, greedily pick {MMR_K} results
    maximizing ``lambda*relevance - (1-lambda)*max-similarity-to-picked``
    — the diversified-retrieval step that keeps a training-data sampler
    (or RAG context) from returning {MMR_K} near-copies of one document.

    Scale split, the way every production re-ranker works: the EXPENSIVE
    stage — relevance against the full corpus plus the top-C cut — is
    distributed (broadcast anchor, map-only dots, TakeOrderedAndProject);
    the greedy stage is inherently sequential over C*(C-1) pairwise sims
    and runs on the driver over a CONSTANT-size pool (C={MMR_CAND}
    candidates regardless of corpus size — same capped-collect contract
    as dedup_clusters' union-find). Both rel and pairwise sims come out
    of the same Spark fold expression, and the greedy comparator uses
    the identical IEEE expression the oracle's recursive CTE evaluates,
    with vec_id tie-breaks, so the selection is engine-exact.
    """
    e = load_table(spark, sf_dir, "embeddings")
    v = _with_norm(_valid(e).select("vec_id", _as_double("embedding").alias("e")))
    # One representative row per vec_id (lexicographically-least vector
    # — the r12 keyed-entity rule): under duplicate ids (r13 hotdup,
    # where the hot key IS the MMR anchor, duplicated ~1000x) the raw
    # corpus would fill the top-{MMR_CAND} pool with copies of one id
    # (the greedy stage then picks 1 result) while the oracle's
    # list_contains dedup walks per-id — both engines now agree on one
    # row per id before relevance ranking.
    from pyspark.sql.window import Window as _W

    v = (
        v.withColumn(
            "__rn", F.row_number().over(_W.partitionBy("vec_id").orderBy("e"))
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    q = v.filter(F.col("vec_id") == MMR_QUERY_ID).select(
        F.col("e").alias("q_e"), F.col("nrm").alias("q_n")
    )
    rel = F.expr(_DOT.format(a="q_e", b="c_e")) / (F.col("q_n") * F.col("c_n"))
    cand = (
        v.filter(F.col("vec_id") != MMR_QUERY_ID)
        .select(F.col("vec_id"), F.col("e").alias("c_e"), F.col("nrm").alias("c_n"))
        .join(F.broadcast(q))
        .withColumn("rel", rel)
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(MMR_CAND)
        .select("vec_id", "c_e", "c_n", "rel")
    )
    cand.persist()
    a = cand.select(
        F.col("vec_id").alias("i"), F.col("c_e").alias("a_e"),
        F.col("c_n").alias("a_n"),
    )
    b = cand.select(
        F.col("vec_id").alias("j"), F.col("c_e").alias("b_e"),
        F.col("c_n").alias("b_n"),
    )
    sim = F.expr(_DOT.format(a="a_e", b="b_e")) / (F.col("a_n") * F.col("b_n"))
    pair_rows = (
        a.join(F.broadcast(b), F.col("i") != F.col("j"))
        .select("i", "j", sim.alias("sim"))
        .collect()
    )
    rel_by_id = {r["vec_id"]: r["rel"] for r in cand.select("vec_id", "rel").collect()}
    cand.unpersist()
    sims: dict[int, dict[int, float]] = {}
    for r in pair_rows:
        sims.setdefault(r["i"], {})[r["j"]] = r["sim"]

    if not rel_by_id:
        # degenerate corpus (r11): no candidates besides the anchor —
        # nothing to diversify; the oracle's recursive CTE joins an
        # empty cand and emits nothing too
        return spark.createDataFrame(
            [], "rank LONG, vec_id LONG, relevance DOUBLE"
        )
    picked: list[int] = []
    while len(picked) < MMR_K and len(picked) < len(rel_by_id):
        if not picked:
            # seed = pure-relevance argmax, vec_id tie-break (asc)
            nxt = min(rel_by_id, key=lambda c: (-rel_by_id[c], c))
        else:
            pool = [c for c in rel_by_id if c not in picked]
            nxt = min(
                pool,
                key=lambda c: (
                    -(MMR_LAMBDA * rel_by_id[c]
                      - (1 - MMR_LAMBDA) * max(sims[c][s] for s in picked)),
                    c,
                ),
            )
        picked.append(nxt)

    rows = [
        (rank + 1, int(vid), float(rel_by_id[vid]))
        for rank, vid in enumerate(picked)
    ]
    # round in-plan (Spark HALF_UP, same as every other cosine output)
    # rather than Python's banker's rounding
    return spark.createDataFrame(
        rows, "rank LONG, vec_id LONG, relevance DOUBLE"
    ).withColumn("relevance", F.round("relevance", 6))
