"""Oracle + invariant tests for the round-6 operators.

Seven new first-class queries: fixed-point PageRank, exact fixed-point
k-means, int8 embedding quantization, a relational Bloom filter,
sliding-window chunking, the regexp function family, and the z-ordered
sink. Each gets its DuckDB-oracle gate plus the structural properties
the value hash can't see.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from databricks_feature_store_poc_spark.registry import QUERIES, load_all_queries
from tests.conftest import SF_TEST
from tests.harness import compare

load_all_queries()

NEW_R6 = [
    "graph_pagerank",
    "scan_binary_files",
    "fn_url",
    "embed_gram_matrix",
    "win_streaks",
    "sample_hard_negatives",
    "dq_benford_digits",
    "fn_hash",
    "scan_text_lines",
    "cluster_kmeans",
    "embed_quantize_int8",
    "agg_bloom_filter",
    "text_chunk_sliding",
    "fn_regexp",
    "sink_zorder",
]


@pytest.mark.parametrize("name", NEW_R6)
def test_oracle_match(name, spark):
    r = compare(name, spark, SF_TEST, verbose=False)
    assert r["ok"], f"{name}: {r.get('issues')}"


def test_pagerank_conserves_mass(spark):
    """Total rank stays within integer-division loss of SCALE: each
    division drops < 1 unit per edge/node per iteration, so the sum over
    all nodes must sit in (SCALE - loss_bound, SCALE]."""
    from databricks_feature_store_poc_spark.operators.graph import (
        ITERS,
        SCALE,
        _edges,
        pagerank,
    )

    edges = _edges(spark, SF_TEST)
    n_edges = edges.count()
    n_nodes = edges.select("src").distinct().count()
    total = pagerank(edges).agg(F.sum("rank")).collect()[0][0]
    # per iteration: <=1 unit lost per edge (contrib div), <=1 per node
    # (base div + /100 truncations, x3 terms); init loses <= n_nodes.
    loss_bound = ITERS * (n_edges + 3 * n_nodes) + n_nodes
    assert SCALE - loss_bound <= total <= SCALE


def test_pagerank_ranks_both_sides(spark):
    rows = QUERIES["graph_pagerank"](spark, SF_TEST).collect()
    assert len(rows) == 20
    ranks = [r["rank"] for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    # suppliers aggregate many customers' mass: the top of the graph
    # must contain supplier nodes
    assert any(r["node"].startswith("s") for r in rows)


def test_kmeans_partitions_all_vectors(spark):
    rows = QUERIES["cluster_kmeans"](spark, SF_TEST).collect()
    from databricks_feature_store_poc_spark.sources.catalog import load_table

    n_vec = load_table(spark, SF_TEST, "embeddings").count()
    assert sum(r["n_members"] for r in rows) == n_vec
    assert all(r["inertia_q"] >= 0 for r in rows)
    assert len(rows) == len({r["cid"] for r in rows})


def test_quantize_int8_bounds(spark):
    df = QUERIES["embed_quantize_int8"](spark, SF_TEST)
    bad = df.filter((F.col("max_q") > 127) | (F.col("min_q") < -127)).count()
    assert bad == 0
    # the max-|x| element quantizes to exactly +-127 in every vector
    extreme = df.filter(
        (F.col("max_q") == 127) | (F.col("min_q") == -127)
    ).count()
    assert extreme == df.count()
    # per-element error <= half a quantization step (amax/254), so the
    # 1e-9-unit sum over 64 dims is bounded (+64 for the floor rounding)
    over = df.filter(
        F.col("sum_abs_err_q")
        > F.col("amax") / 254.0 * 64 * 1e9 + 64
    ).count()
    assert over == 0


def test_bloom_properties_hold(spark):
    row = QUERIES["agg_bloom_filter"](spark, SF_TEST).collect()[0]
    assert row["no_false_negatives"] is True
    assert row["fp_rate_ok"] is True
    assert 0 < row["n_members"] <= row["n_probes"]


def test_bloom_size_scales_with_build_side():
    """fp band is a function of kn/m: sizing m from n keeps it constant
    at every SF (ADVICE r6: a fixed 131072-bit bitmap saturates ~sf1)."""
    import math

    from databricks_feature_store_poc_spark.operators.bloom import (
        BITS_PER_KEY,
        M_BITS,
        N_HASH,
        bloom_size_bits,
    )

    assert bloom_size_bits(0) == M_BITS
    assert bloom_size_bits(1000) == M_BITS  # floor holds for tiny sets
    for n in (30_000, 300_000, 10_000_000):
        m = bloom_size_bits(n)
        assert m >= n * BITS_PER_KEY and m & (m - 1) == 0
        fp = (1 - math.exp(-N_HASH * n / m)) ** N_HASH
        assert fp < 0.01, (n, m, fp)


def test_bloom_probe_matches_exact_semi_join(spark):
    """Bit-level check beyond the aggregate booleans: the pass-set is a
    superset of the member set and barely larger (fp bound)."""
    from databricks_feature_store_poc_spark.operators.bloom import (
        bloom_build,
        bloom_probe,
    )
    from databricks_feature_store_poc_spark.sources.catalog import load_table

    keys = (
        load_table(spark, SF_TEST, "customer")
        .filter(F.col("c_custkey") % 3 == 0)
        .select(F.col("c_custkey").alias("k"))
        .distinct()
    )
    probes = (
        load_table(spark, SF_TEST, "customer").select(F.col("c_custkey").alias("k")).distinct()
    )
    passed = bloom_probe(probes, "k", bloom_build(keys, "k"))
    joined = passed.join(keys.withColumn("m", F.lit(1)), "k", "left")
    fn = joined.filter(F.col("m").isNotNull() & ~F.col("bloom_pass")).count()
    fp = joined.filter(F.col("m").isNull() & F.col("bloom_pass")).count()
    n_non = joined.filter(F.col("m").isNull()).count()
    assert fn == 0
    assert fp <= max(1, int(n_non * 0.01))


def test_chunks_cover_every_word(spark):
    from databricks_feature_store_poc_spark.llm.text import CHUNK_SIZE, CHUNK_STRIDE
    from databricks_feature_store_poc_spark.sources.catalog import load_table

    chunks = QUERIES["text_chunk_sliding"](spark, SF_TEST)
    per_doc = chunks.groupBy("doc_id").agg(
        F.max("chunk_idx").alias("last_idx"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.max("n_tokens").alias("max_tokens"),
    )
    docs = load_table(spark, SF_TEST, "documents").select(
        "doc_id",
        F.size(F.expr(r"filter(split(text, '\\s+'), x -> x != '')")).alias("n_words"),
    )
    j = per_doc.join(docs, "doc_id")
    # chunk_idx is dense 0..last and the last stride reaches the end
    bad = j.filter(
        (F.col("n_chunks") != F.col("last_idx") + 1)
        | (F.col("max_tokens") > CHUNK_SIZE)
        | (
            F.col("last_idx")
            != F.floor(F.greatest(F.col("n_words") - 1, F.lit(0)) / CHUNK_STRIDE)
        )
    ).count()
    assert bad == 0
    assert j.count() == docs.count()  # every document chunked


def test_zorder_files_are_narrow_in_both_dims(spark):
    """The point of z-order: every written file spans a small fraction of
    BOTH dimensions' global ranges (a 1-D sort would leave one dimension
    at ~full width per file)."""
    from databricks_feature_store_poc_spark.operators.zorder import (
        _run_scoped_path,
    )

    QUERIES["sink_zorder"](spark, SF_TEST).collect()  # materialize the sink
    out = _run_scoped_path(spark, "zorder_orders", SF_TEST)
    df = spark.read.parquet(out).withColumn(
        "file", F.input_file_name()
    )
    stats = (
        df.groupBy("file")
        .agg(
            (F.max("o_custkey") - F.min("o_custkey")).alias("ck_span"),
            (F.max("o_day") - F.min("o_day")).alias("day_span"),
        )
        .collect()
    )
    glob = df.agg(
        (F.max("o_custkey") - F.min("o_custkey")).alias("ck"),
        (F.max("o_day") - F.min("o_day")).alias("dy"),
    ).collect()[0]
    n_files = len(stats)
    assert n_files >= 4
    avg_ck = sum(r["ck_span"] for r in stats) / n_files / glob["ck"]
    avg_dy = sum(r["day_span"] for r in stats) / n_files / glob["dy"]
    # both dims meaningfully narrower than global on average; a 1-D sort
    # keeps the unsorted dim at ~1.0
    assert avg_ck < 0.8 and avg_dy < 0.8, (avg_ck, avg_dy)


def test_cms_oracle_and_bounds(spark):
    r = compare("agg_countmin_sketch", spark, SF_TEST, verbose=False)
    assert r["ok"], r.get("issues")
    rows = QUERIES["agg_countmin_sketch"](spark, SF_TEST).collect()
    assert len(rows) == 10
    assert all(r["never_underestimates"] and r["within_band"] for r in rows)


def test_cms_estimate_exact_on_sparse_keys(spark):
    """With far fewer keys than counters, collisions are rare: the
    estimate must be exactly the true count for almost every key."""
    from databricks_feature_store_poc_spark.operators.bloom import (
        cms_build,
        cms_estimate,
    )
    from databricks_feature_store_poc_spark.sources.catalog import load_table

    o = load_table(spark, SF_TEST, "orders").select("o_custkey").filter(
        F.col("o_custkey") % 50 == 0
    )
    truth = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = cms_estimate(truth.select("o_custkey"), "o_custkey", cms_build(o, "o_custkey"))
    j = truth.join(est, "o_custkey")
    n = j.count()
    exact = j.filter(F.col("est") == F.col("true_cnt")).count()
    under = j.filter(F.col("est") < F.col("true_cnt")).count()
    assert under == 0
    assert exact >= n * 0.9


def test_bloom_decontaminate_matches_exact_path(spark):
    r = compare("text_bloom_decontaminate", spark, SF_TEST, verbose=False)
    assert r["ok"], r.get("issues")
    row = QUERIES["text_bloom_decontaminate"](spark, SF_TEST).collect()[0]
    assert row["bloom_catches_all"] is True
    assert row["candidate_inflation_ok"] is True
    # the two-phase path must agree with the exact broadcast path
    exact = QUERIES["text_decontaminate"](spark, SF_TEST)
    n_exact = exact.filter(F.col("contaminated")).count()
    assert row["n_contaminated"] == n_exact
    assert row["n_train_docs"] == exact.count()


def test_benford_is_a_distribution(spark):
    rows = QUERIES["dq_benford_digits"](spark, SF_TEST).collect()
    assert [r["digit"] for r in rows] == sorted({r["digit"] for r in rows})
    assert all(1 <= r["digit"] <= 9 for r in rows)
    assert abs(sum(r["pct"] for r in rows) - 1.0) < 1e-9


def test_range_search_consistent_with_topk(spark):
    r = compare("sim_range_search", spark, SF_TEST, verbose=False)
    assert r["ok"], r.get("issues")
    from databricks_feature_store_poc_spark.llm.similarity import RANGE_THRESHOLD

    rng = QUERIES["sim_range_search"](spark, SF_TEST)
    topk = QUERIES["sim_cosine_topk"](spark, SF_TEST)
    # any top-k neighbor at or above the threshold must be in the range
    # result (range search is recall-complete by definition)
    hot = topk.filter(F.col("cosine") >= RANGE_THRESHOLD + 1e-6).select(
        "query_id", "neighbor_id"
    )
    missing = hot.join(
        rng.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_anti",
    ).count()
    assert missing == 0


def test_semantic_dedup_oracle_and_recall(spark):
    r = compare("dedup_semantic_cluster", spark, SF_TEST, verbose=False)
    assert r["ok"], r.get("issues")
    # recall audit: within-cluster pairs vs the global pair set at the
    # same integer threshold — the documented trade of cluster-then-pair.
    from databricks_feature_store_poc_spark.llm.vectors import (
        COS_DEN,
        COS_NUM,
        _QV0,
    )
    from databricks_feature_store_poc_spark.sources.catalog import load_table

    e = load_table(spark, SF_TEST, "embeddings")
    v0 = e.select(
        "vec_id",
        F.expr(_QV0).alias("q0"),
        F.expr(
            f"aggregate(zip_with({_QV0}, {_QV0}, (a, b) -> a * b),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("n2"),
    )
    a = v0.select(F.col("vec_id").alias("va"), F.col("q0").alias("qa"), F.col("n2").alias("na2"))
    b = v0.select(F.col("vec_id").alias("vb"), F.col("q0").alias("qb"), F.col("n2").alias("nb2"))
    pairs = a.join(b, F.col("va") < F.col("vb"))
    dot = F.expr(
        "aggregate(zip_with(qa, qb, (x, y) -> x * y),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    n_global = (
        pairs.withColumn("dot", dot)
        .filter(
            (F.col("dot") > 0)
            & (
                F.lit(COS_DEN * COS_DEN)
                * (F.col("dot").cast("decimal(38,0)") * F.col("dot").cast("decimal(38,0)"))
                >= F.lit(COS_NUM * COS_NUM)
                * (F.col("na2").cast("decimal(38,0)") * F.col("nb2").cast("decimal(38,0)"))
            )
        )
        .count()
    )
    rows = QUERIES["dedup_semantic_cluster"](spark, SF_TEST).collect()
    n_within = sum(r["n_dup_pairs"] for r in rows)
    assert sum(r["n_vectors"] for r in rows) == e.count()
    assert 0 < n_within <= n_global
    # at K=8 on this corpus the clustered pass must keep a meaningful
    # fraction of true pairs (SemDeDup's operating premise)
    assert n_within >= 0.1 * n_global, (n_within, n_global)


def test_gram_matrix_is_symmetric_psd_diagonal(spark):
    rows = QUERIES["embed_gram_matrix"](spark, SF_TEST).collect()
    from databricks_feature_store_poc_spark.llm.vectors import DIMS

    assert len(rows) == DIMS * (DIMS + 1) // 2  # full upper triangle
    diag = {r["dim_i"]: r["s"] for r in rows if r["dim_i"] == r["dim_j"]}
    assert len(diag) == DIMS
    assert all(v >= 0 for v in diag.values())  # x^T x diagonal is a sum of squares
    # Cauchy-Schwarz on every off-diagonal cell
    bad = [
        r for r in rows
        if r["dim_i"] != r["dim_j"]
        and r["s"] * r["s"] > diag[r["dim_i"]] * diag[r["dim_j"]]
    ]
    assert not bad


def test_streaks_are_consistent(spark):
    rows = QUERIES["win_streaks"](spark, SF_TEST).collect()
    assert rows
    for r in rows:
        assert 1 <= r["longest_streak"] <= r["n_active_days"]
        assert r["n_streaks"] <= r["n_active_days"]
        # streak lengths sum to active days, so their mean is bounded
        assert r["longest_streak"] * r["n_streaks"] >= r["n_active_days"]


# --- plan pins: the scale property each round-6 operator claims ------------


def test_map_only_ops_plan_zero_shuffles(spark):
    """embed_quantize_int8, text_chunk_sliding, fn_regexp, fn_hash, and
    sim_range_search all claim map-only execution — zero shuffle
    exchanges (range search additionally pays no window)."""
    from databricks_feature_store_poc_spark.plans.inspect import count_exchanges

    for name in (
        "embed_quantize_int8",
        "text_chunk_sliding",
        "fn_regexp",
        "fn_hash",
        "sim_range_search",
    ):
        df = QUERIES[name](spark, SF_TEST)
        assert count_exchanges(df) == 0, name


def test_bloom_and_cms_probe_broadcasts(spark):
    """The sketch tables must reach the probe side as broadcasts — a
    shuffled probe join would defeat the fixed-size-summary point."""
    from databricks_feature_store_poc_spark.plans.inspect import (
        count_broadcast_joins,
        physical_plan,
    )

    for name in ("agg_bloom_filter", "agg_countmin_sketch"):
        df = QUERIES[name](spark, SF_TEST)
        assert count_broadcast_joins(df) >= 1, name
        assert "CartesianProduct" not in physical_plan(df), name


def test_pagerank_iteration_broadcasts_ranks(spark):
    """Each PageRank iteration joins the edge list against the rank
    table; at test SF the rank side must broadcast (AQE or static) so
    the edge stream is never shuffled for the join — only the
    contribution aggregate shuffles."""
    from databricks_feature_store_poc_spark.plans.inspect import (
        count_broadcast_joins,
        simple_plan,
    )

    df = QUERIES["graph_pagerank"](spark, SF_TEST)
    assert count_broadcast_joins(df) >= 3  # one per iteration
    assert "CartesianProduct" not in simple_plan(df)


def test_gram_matrix_single_aggregate_shuffle(spark):
    """The gram pass shuffles only the 2080-cell aggregate — output-
    sized, independent of corpus size."""
    from databricks_feature_store_poc_spark.plans.inspect import count_exchanges

    # assert on the UNCACHED plan: if embed_pca_power ran earlier in the
    # session, its session-persisted gram cells plan-match this query and
    # Spark substitutes an InMemoryTableScan, hiding the aggregate shape.
    # Replacing the memo entry (another fingerprint) unpersists them.
    from databricks_feature_store_poc_spark.cacheutil import memo

    memo(spark, "pca_gram_cells", [], lambda: None)
    df = QUERIES["embed_gram_matrix"](spark, SF_TEST)
    assert count_exchanges(df) <= 1
