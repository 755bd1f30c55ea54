"""Z-order (Morton) clustered sink: multi-dimensional data skipping.

``sink_sorted_parquet`` clusters on ONE column; queries filtering the
other dimension still scan everything. Interleaving the bits of two key
columns into one Morton code and range-sorting on it gives every output
file a narrow range in BOTH dimensions — the layout trick behind
Delta/Databricks OPTIMIZE ZORDER and Iceberg's z-ordered rewrites — so
min/max file stats skip on either predicate. The code is plain integer
bit-algebra, identically expressible in Spark and DuckDB, so the driver
hash-verifies the interleave itself, not just the round-trip.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from databricks_feature_store_poc_spark import cacheutil
from databricks_feature_store_poc_spark.cacheutil import app_id as _app_id
from databricks_feature_store_poc_spark.registry import query
from databricks_feature_store_poc_spark.sources.catalog import load_table

BITS = 16  # each dimension masked to 16 bits -> 32-bit Morton code


def _staging_root() -> str:
    """Root for file-staging side outputs.

    ``SPARK_GRAFT_STAGING_DIR`` overrides; on a multi-node cluster it MUST
    point at a shared filesystem (NFS/DBFS/object-store fuse mount) because
    executor tasks write files here that the driver-side reader then lists.
    The local default (tempfile.gettempdir()) is correct only for local[N],
    where driver and executors share one machine.
    """
    return os.environ.get("SPARK_GRAFT_STAGING_DIR", tempfile.gettempdir())


def _run_scoped_path(spark: SparkSession, name: str, sf_dir: str) -> str:
    """Per-(application, scale-factor) output path: concurrent runs at
    different SFs (or concurrent sessions) never race on an overwrite,
    and a re-read of the directory always sees THIS session's write."""
    sf = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    app = _app_id(spark).replace("-", "_")
    return os.path.join(_staging_root(), f"spark_graft_{name}_{sf}_{app}")


def _morton_spark(x: str, y: str) -> str:
    terms = []
    for i in range(BITS):
        terms.append(f"shiftleft((shiftright({x}, {i}) & 1), {2 * i})")
        terms.append(f"shiftleft((shiftright({y}, {i}) & 1), {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def _morton_duck(x: str, y: str) -> str:
    terms = []
    for i in range(BITS):
        terms.append(f"(((({x}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({y}) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


_SPARK_X = f"(o_custkey & {(1 << BITS) - 1})"
_SPARK_Y = f"(CAST(unix_date(CAST(o_orderdate AS DATE)) AS BIGINT) & {(1 << BITS) - 1})"
_DUCK_X = f"(o_custkey & {(1 << BITS) - 1})"
_DUCK_Y = (
    "(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))"
    f" & {(1 << BITS) - 1})"
)


@query(
    "sink_zorder",
    oracle=f"""
    SELECT CAST({_morton_duck(_DUCK_X, _DUCK_Y)} AS BIGINT) AS zorder,
           o_orderkey, o_custkey,
           CAST(date_diff('day', DATE '1970-01-01',
                CAST(o_orderdate AS DATE)) AS BIGINT) AS o_day
    FROM orders
    -- NULLS FIRST (r11): a NULL key dimension yields a NULL Morton code
    -- on both engines; the writer clusters those rows together at the
    -- front (Spark's asc default), and the oracle pins the same order
    ORDER BY zorder NULLS FIRST, o_orderkey
    LIMIT 20
    """,
)
def sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders written z-ordered on (customer, order day): Morton code
    computed JVM-side, repartitionByRange + sortWithinPartitions on it,
    parquet out, read back. Checked values: the 20 lowest (zorder,
    o_orderkey) rows with the code and both source dimensions — the
    driver verifies all 32 bit-interleave terms against DuckDB's
    arithmetic. The two-dimensional file-locality property (every file
    narrow in custkey AND day) is pinned in tests.

    Scale: the Morton map is free at scan speed; the range partition on
    the code is the same single shuffle a one-column sort costs, but
    buys skipping on two predicates. Dimensions are masked to {BITS}
    bits — at larger key domains, z-order bucket numbers (key div
    domain/2^{BITS}), not raw keys.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.expr(f"CAST({_morton_spark(_SPARK_X, _SPARK_Y)} AS BIGINT)").alias(
            "zorder"
        ),
        "o_orderkey",
        "o_custkey",
        F.expr("CAST(unix_date(CAST(o_orderdate AS DATE)) AS BIGINT)").alias(
            "o_day"
        ),
    )
    out = _run_scoped_path(spark, "zorder_orders", sf_dir)
    (
        o.repartitionByRange(8, "zorder")
        .sortWithinPartitions("zorder")
        .write.mode("overwrite")
        .parquet(out)
    )
    return (
        spark.read.parquet(out)
        .orderBy("zorder", "o_orderkey")
        .limit(20)
    )


@query(
    "scan_text_lines",
    oracle="SELECT doc_id, text FROM documents",
)
def scan_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text scan: documents written as TAB-delimited lines
    (`doc_id\\t<payload>`), read back with ``spark.read.text`` and
    re-parsed JVM-side. The raw-text path is how web-scale corpora
    usually arrive (WET/JSONL-ish dumps) before any columnar conversion;
    the oracle proves the round-trip is lossless.

    Payload armor (r11): real corpora contain embedded newlines, tabs,
    and NULLs — none of which survive a naive line format (the
    adversarial replica's CRLF documents split into extra lines and a
    NULL text produced an uncastable one-field line). The payload is
    therefore base64(UTF-8 bytes) with a one-char flag ('B' = bytes,
    'N' = NULL), all JVM-side (base64/unbase64/encode/decode) — the
    same armoring every JSONL/WET pipeline applies to line-unsafe
    content. Round-trip is exact for ANY string, pinned by the oracle.
    """
    from databricks_feature_store_poc_spark.sources.catalog import load_table as _lt

    # regexp_replace: Spark's base64 is MIME-chunked (76 chars + CRLF),
    # which would re-split the lines the armor exists to protect;
    # unbase64's MIME decoder is whitespace-tolerant so stripping is safe
    payload = F.when(F.col("text").isNull(), F.lit("N")).otherwise(
        F.concat(
            F.lit("B"),
            F.regexp_replace(
                F.base64(F.encode("text", "UTF-8")), "[\\r\\n]", ""
            ),
        )
    )
    d = _lt(spark, sf_dir, "documents").select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), payload).alias(
            "value"
        )
    )
    out = _run_scoped_path(spark, "text_documents", sf_dir)
    d.write.mode("overwrite").text(out)
    lines = spark.read.text(out)
    tab = F.instr(F.col("value"), "\t")
    return lines.select(
        F.substring(F.col("value"), 1, tab - 1).cast("bigint").alias("doc_id"),
        F.expr(
            "CASE WHEN substr(value, instr(value, '\t') + 1, 1) = 'N' "
            "THEN NULL ELSE decode(unbase64("
            "substr(value, instr(value, '\t') + 2)), 'UTF-8') END"
        ).alias("text"),
    )


@query(
    "scan_binary_files",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY doc_id ORDER BY text) AS rn
        FROM documents
        WHERE doc_id % 10 = 0 AND text IS NOT NULL
              AND octet_length(encode(text)) > 0
    ) WHERE rn = 1
    """,
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file binary ingestion via ``spark.read.format("binaryFile")``
    — the entry path for multimodal corpora (images/audio arrive as one
    opaque file each; the reader yields (path, length, content) rows
    that feed the mapInPandas decode pipeline in llm/multimodal.py).

    Staging writes one file per document from the EXECUTORS
    (foreachPartition, so a driver loop never serializes the corpus).
    Executor-side file writes require ``SPARK_GRAFT_STAGING_DIR`` to be
    a SHARED filesystem on a real multi-node cluster — tasks write where
    they run, and the driver-side binaryFile reader must see every file.
    On local[N] (one machine) the tempdir default satisfies that
    trivially. The binary scan then re-parses the doc id from the
    filename and digests the bytes. The oracle only touches the
    documents table: equal ids + byte lengths + md5 digests prove the
    file round-trip is lossless (corpus text is ASCII, so byte and
    character digests coincide).

    The staged directory is memoized on the SOURCE FINGERPRINT of
    documents.parquet (mtime+size via cacheutil.source_fingerprint):
    regenerating the corpus in place — even at the same row count —
    invalidates the cache, and re-staging clears the directory first so
    no stale ``*.txt`` from a previous subset survives as an extra row.
    """
    from databricks_feature_store_poc_spark.sources.catalog import load_table as _lt

    # Deterministic 10% subset: whole-file readers pay per-file open
    # cost (the classic small-files problem) — the reader is exercised
    # on hundreds of files per SF, not hundreds of thousands; at scale,
    # pack small payloads into parquet binary columns or sequence-file
    # style containers instead of one-file-per-record.
    # NULL-text docs have no file to stage, and EMPTY payloads are
    # excluded too (r11 contract): Spark's binaryFile source silently
    # drops zero-byte files, so an empty object cannot round-trip this
    # path — both engines pin length > 0. n_bytes is the UTF-8 BYTE
    # length (octet_length in the oracle) — character length diverges
    # on non-ASCII payloads.
    # The staging dir holds ONE file per doc_id (the filename IS the
    # key) — duplicated doc_ids (r12 dup replica) would race on
    # last-writer-wins across tasks, so the representative is pinned to
    # the lexicographically-least payload on both engines.
    from pyspark.sql.window import Window as _W

    d = (
        _lt(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") % 10 == 0)
            & F.col("text").isNotNull()
            & (F.length("text") > 0)
        )
        .select("doc_id", "text")
        .withColumn(
            "__dup_rn",
            F.row_number().over(_W.partitionBy("doc_id").orderBy("text")),
        )
        .filter(F.col("__dup_rn") == 1)
        .drop("__dup_rn")
    )
    # "|stage=v2" versions the STAGING RULE itself (the dup-representative
    # pin): a dir staged under an older rule is stale even when the
    # source parquet is unchanged — same lesson as the replica recipe
    # fingerprints (ADVICE r11 #2).
    src = [os.path.join(sf_dir, "documents.parquet")]
    fp = cacheutil.source_fingerprint(src) + "|stage=v2"
    out = os.path.join(
        _staging_root(),
        "spark_graft_binfiles_"
        + os.path.basename(sf_dir.rstrip("/")).replace(".", "_"),
    )
    marker = os.path.join(out, "_STAGED")
    staged = False
    if os.path.exists(marker):
        with open(marker) as f:
            staged = f.read() == fp
    if not staged:
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out, exist_ok=True)

        def write_files(rows):
            for r in rows:
                with open(os.path.join(out, f"{r['doc_id']}.txt"), "wb") as f:
                    f.write(r["text"].encode("utf-8"))

        d.foreachPartition(write_files)
        with open(marker, "w") as f:
            f.write(fp)

    if not any(f.endswith(".txt") for f in os.listdir(out)):
        # degenerate corpus (r11): no stageable payloads — binaryFile's
        # glob would raise PATH_NOT_FOUND on zero matches
        return spark.createDataFrame(
            [], "doc_id long, n_bytes long, content_md5 string"
        )
    # Plan memo (r17 optimization, guide §6 "file listing"): binaryFile's
    # glob load re-lists ~N/10 staged files on the DRIVER every call
    # (~1.2 s at sf0.1) for a file set that is immutable under the
    # staging fingerprint. Memoize the loaded DataFrame — an unexecuted
    # plan; every action still reads the files — keyed on the staging
    # source; manifest-backed table formats exist at scale for exactly
    # this listing cost.
    files = cacheutil.memo(
        spark, f"binfiles:{out}", src,
        lambda: spark.read.format("binaryFile").load(os.path.join(out, "*.txt")),
    )
    return files.select(
        F.regexp_extract(F.col("path"), r"([0-9]+)\.txt$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


@query(
    "sink_compact_smallfiles",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           TRUE AS files_after_le_target,
           TRUE AS small_files_written_ok,
           TRUE AS compaction_reduced_files_ok
    FROM documents
    """,
)
def sink_compact_smallfiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: the #1 operational failure mode of 100 TB
    parquet lakes. Streaming/per-task writers fragment a table into
    thousands of KB-sized files; every later scan then pays per-file
    open + footer-read + scheduling cost, and the NameNode/object-store
    listing becomes the bottleneck. Compaction rewrites the data into
    few large files WITHOUT a shuffle: ``coalesce(N)`` stitches existing
    partitions together map-side (unlike ``repartition``, which would
    shuffle every byte — at 100 TB that difference is the whole job).

    Here: documents are first written deliberately fragmented
    (``repartition(64)`` — the anti-pattern under test), then compacted
    with ``coalesce(4)`` and read back. Checked values: exact row count
    through the round-trip (compaction must be byte-lossless), plus
    three boolean contracts: the compacted file count is <= the target
    (coalesce acts on the READ's file-scan partitioning, so with few
    cores or a large maxPartitionBytes the 64 tiny files can pack into
    FEWER than 4 scan partitions — `<=` is the environment-independent
    invariant, an exact `== 4` is not), fragmentation actually happened
    (>= 16 small files), and compaction reduced it. File counts come
    from a driver-side directory listing — a metadata operation, not a
    data scan.
    """
    d = load_table(spark, sf_dir, "documents")
    frag = _run_scoped_path(spark, "compact_frag", sf_dir)
    compacted = _run_scoped_path(spark, "compact_out", sf_dir)
    d.repartition(64, "doc_id").write.mode("overwrite").parquet(frag)

    def _n_parquet_files(path: str) -> int:
        return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))

    files_before = _n_parquet_files(frag)
    frag_df = spark.read.schema(d.schema).parquet(frag)
    frag_df.coalesce(4).write.mode("overwrite").parquet(compacted)
    files_after = _n_parquet_files(compacted)
    # Degenerate-input pins (r11): Spark writes part files only for
    # NON-EMPTY partitions, so a tiny table cannot fragment into 16
    # files — the fragmentation precondition scales with row count, and
    # 'reduced' is vacuously true once the input is already at/below the
    # target file count. Explicit read schemas keep the 0-row round trip
    # inferable.
    n_in = frag_df.count()
    frag_ok = files_before >= min(16, n_in) if n_in > 0 else True
    reduced_ok = files_after < files_before or files_before <= 4
    return (
        spark.read.schema(d.schema).parquet(compacted)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "n_rows",
            F.lit(files_after <= 4).alias("files_after_le_target"),
            F.lit(frag_ok).alias("small_files_written_ok"),
            F.lit(reduced_ok).alias("compaction_reduced_files_ok"),
        )
    )


@query(
    "scan_schema_evolution",
    oracle="""
    SELECT doc_id, lang,
           CAST(NULL AS VARCHAR) AS source,
           CAST(NULL AS BIGINT) AS n_chars
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, lang, source, n_chars
    FROM documents WHERE doc_id % 2 = 1
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: a table whose ingestion epochs wrote
    DIFFERENT schemas — epoch 1 (doc_id, lang), epoch 2 adds (source,
    n_chars) — unified by ``mergeSchema`` at read time. Old files
    surface NULL for columns they predate; no historical file is ever
    rewritten. This is how a 100 TB lake absorbs additive schema drift:
    the merge happens across parquet FOOTERS during planning (one
    metadata pass), the data files are untouched, and column pruning /
    predicate pushdown still apply per-file against each file's own
    physical schema.

    The oracle replays the epoch split + NULL-extension in SQL, so the
    read-side union semantics (not just row counts) are value-checked.
    mergeSchema is opt-in per read here; a production table pins it (or
    a catalog schema) table-wide.
    """
    d = load_table(spark, sf_dir, "documents")
    out = _run_scoped_path(spark, "schema_evo", sf_dir)
    (
        d.filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", "lang")
        .write.mode("overwrite")
        .parquet(os.path.join(out, "epoch=1"))
    )
    (
        d.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite")
        .parquet(os.path.join(out, "epoch=2"))
    )
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", out)
        .parquet(os.path.join(out, "epoch=1"), os.path.join(out, "epoch=2"))
    )
    return merged.select("doc_id", "lang", "source", "n_chars")


@query(
    "scan_csv_malformed_quarantine",
    oracle="""
    SELECT CAST(coalesce(sum(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END),
                         0) AS BIGINT) AS n_clean,
           CAST(coalesce(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END),
                         0) AS BIGINT) AS n_quarantined,
           CAST(sum(CASE WHEN doc_id % 7 <> 0 THEN doc_id END) AS BIGINT)
               AS clean_docid_sum,
           CAST(sum(CASE WHEN doc_id % 7 = 0 THEN doc_id END) AS BIGINT)
               AS quarantined_docid_sum,
           CAST(sum(CASE WHEN doc_id % 7 <> 0 THEN n_chars END) AS BIGINT)
               AS clean_nchars_sum
    FROM documents
    """,
)
def scan_csv_malformed_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest robustness: a staged CSV where every doc_id % 7 == 0 row is
    deliberately malformed (non-numeric garbage in the BIGINT n_chars
    field) is read in PERMISSIVE mode with a corrupt-record column —
    the quarantine pattern for dirty feeds at scale, where MALFORMED
    rows must be counted, triaged, and kept (FAILFAST kills the job;
    DROPMALFORMED silently loses data).

    Triage recovers doc_id from the RAW quarantined line (the corrupt
    column carries it verbatim), so the audit proves Spark quarantined
    EXACTLY the malformed set — the oracle replays the deterministic
    malformation rule against the source table. The parsed frame is
    persisted before the corrupt-column filter (Spark's documented
    requirement for queries over the internal corrupt-record column).
    Scale shape: the staging write and the CSV parse are both map-only;
    the audit is one aggregate.
    """
    from databricks_feature_store_poc_spark.sources.catalog import load_table as _lt

    d = _lt(spark, sf_dir, "documents")
    # coalesce each nullable field to an EXPLICIT empty field (r11):
    # concat_ws silently skips NULL parts, so a NULL n_chars produced a
    # two-field line that quarantined a row the malformation rule says
    # is clean; an empty field parses as NULL, which is the intent.
    lines = d.select(
        F.concat_ws(
            ",",
            F.col("doc_id").cast("string"),
            F.coalesce(F.col("lang"), F.lit("")),
            F.coalesce(
                F.when(F.col("doc_id") % 7 == 0, F.lit("#bad#"))
                .otherwise(F.col("n_chars").cast("string")),
                F.lit(""),
            ),
        ).alias("value")
    )
    out = _run_scoped_path(spark, "csv_quarantine", sf_dir)
    lines.write.mode("overwrite").text(out)
    parsed = (
        spark.read.schema("doc_id LONG, lang STRING, n_chars LONG, _corrupt STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out)
    )
    parsed.persist()
    clean = parsed.filter(F.col("_corrupt").isNull())
    quar = parsed.filter(F.col("_corrupt").isNotNull()).select(
        F.split(F.col("_corrupt"), ",").getItem(0).cast("long").alias("qid")
    )
    c = clean.agg(
        F.count(F.lit(1)).cast("long").alias("n_clean"),
        F.sum("doc_id").cast("long").alias("clean_docid_sum"),
        F.sum("n_chars").cast("long").alias("clean_nchars_sum"),
    )
    q = quar.agg(
        F.count(F.lit(1)).cast("long").alias("n_quarantined"),
        F.sum("qid").cast("long").alias("quarantined_docid_sum"),
    )
    audit = c.crossJoin(F.broadcast(q)).select(
        "n_clean", "n_quarantined", "clean_docid_sum",
        "quarantined_docid_sum", "clean_nchars_sum",
    )
    # Materialize the 1-row audit WHILE the parse is cached, then release
    # the cache — a lazily-returned frame would either pin the cached
    # blocks for the session lifetime or recompute the parse on collect.
    rows = audit.collect()
    parsed.unpersist()
    return spark.createDataFrame(rows, audit.schema)


@query(
    "scan_json_nested",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang, n_chars,
               list_slice(string_split(text, ' '), 1, 3) AS tags
        FROM documents
    )
    SELECT doc_id, lang, n_chars,
           CAST(unnest(range(1, len(tags) + 1)) AS BIGINT) AS tag_pos,
           unnest(tags) AS tag
    FROM t
    """,
)
def scan_json_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED JSON ingestion — the shape real event/API feeds arrive in:
    each staged line carries a struct (`meta.lang`, `meta.n_chars`) and
    an array (`tags`, the doc's first three tokens), read back with an
    explicit nested schema (no inference pass), projected by dot path
    and fanned out with ``posexplode``. Complements the flat
    ``scan_json`` round-trip: this one proves struct field access,
    array explode with positions, and JSON string escaping all survive
    the round trip (the oracle replays the same projection from the
    source table, so any escaping loss diverges the hash).

    Scale shape: write and read are map-only; the explode multiplies
    rows <= 3x with zero shuffle — the plan has no exchange at all
    until a downstream consumer aggregates.
    """
    from databricks_feature_store_poc_spark.sources.catalog import load_table as _lt

    d = _lt(spark, sf_dir, "documents")
    lines = d.select(
        F.to_json(
            F.struct(
                F.col("doc_id"),
                F.struct(F.col("lang"), F.col("n_chars")).alias("meta"),
                F.slice(F.split(F.col("text"), " "), 1, 3).alias("tags"),
            )
        ).alias("value")
    )
    out = _run_scoped_path(spark, "json_nested", sf_dir)
    lines.write.mode("overwrite").text(out)
    schema = (
        "doc_id LONG, meta STRUCT<lang: STRING, n_chars: LONG>,"
        " tags ARRAY<STRING>"
    )
    j = spark.read.schema(schema).json(out)
    return j.select(
        "doc_id",
        F.col("meta.lang").alias("lang"),
        F.col("meta.n_chars").alias("n_chars"),
        F.posexplode("tags").alias("pos", "tag"),
    ).select(
        "doc_id", "lang", "n_chars",
        (F.col("pos") + 1).cast("long").alias("tag_pos"), "tag",
    )
