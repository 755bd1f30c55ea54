"""Text-analysis operators for LLM data pipelines (SURVEY §2/M5).

Per-document statistics, corpus language distribution, heuristic
language-ID, quality scoring, tokenizer-style token counting, polynomial
fingerprinting, top n-grams, and TF-IDF top terms — all over the
``documents`` table, all pure JVM expressions (split / higher-order
functions / window) with no Python in the row path.

Tokenization contract shared by every operator here AND by each DuckDB
oracle: words = whitespace-split with empty strings dropped. Ratios are
integer-over-integer double divisions (bit-identical cross-engine);
TF-IDF needs ln(), which is NOT a cross-engine bit contract, so that one
query is rows-only with its invariants pinned in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from databricks_feature_store_poc_spark.cacheutil import memo
from databricks_feature_store_poc_spark.cacheutil import (
    tracked_local_checkpoint as _ckpt,
)
from databricks_feature_store_poc_spark.registry import query
from databricks_feature_store_poc_spark.sources.catalog import (
    load_table,
    parquet_row_count,
)

_WORDS = r"filter(split(text, '\\s+'), x -> x != '')"
_DUCK_WORDS = r"list_filter(string_split_regex(text, '\s+'), x -> x != '')"

# Tiny embedded stopword list: deterministic, same literal on both engines.
STOPWORDS = ("a", "the", "of", "to", "and", "in", "is", "on")
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


@query(
    "text_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_words,
           CAST(len(list_distinct({_DUCK_WORDS})) AS BIGINT) AS n_distinct_words,
           list_aggregate([CAST(length(w) AS BIGINT) FOR w IN {_DUCK_WORDS}], 'sum')
               * 1.0 / nullif(len({_DUCK_WORDS}), 0) AS avg_word_len,
           len(list_distinct({_DUCK_WORDS})) * 1.0
               / nullif(len({_DUCK_WORDS}), 0) AS ttr
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats: char/word/distinct-word counts, mean word
    length, type-token ratio. All divisions are int/int -> double (exact
    cross-engine).

    Contract (r11): zero-word documents (empty/whitespace-only text)
    report NULL avg_word_len and ttr — nullif on both engines; under
    Spark 4's ANSI mode the unguarded 0/0 was a runtime error, not a
    NaN. NULL text propagates NULL through every column."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_calc"),
        F.expr(f"cast(size({_WORDS}) as long)").alias("n_words"),
        F.expr(f"cast(size(array_distinct({_WORDS})) as long)").alias("n_distinct_words"),
        F.expr(
            f"aggregate({_WORDS}, 0L, (acc, w) -> acc + length(w)) "
            f"/ nullif(size({_WORDS}), 0)"
        ).alias("avg_word_len"),
        F.expr(
            f"size(array_distinct({_WORDS})) / nullif(size({_WORDS}), 0)"
        ).alias("ttr"),
    )


@query(
    "text_lang_dist",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           SUM(n_chars) * 1.0 / COUNT(*) AS avg_chars,
           COUNT(*) * 1.0 / (SELECT COUNT(*) FROM documents) AS pct_docs
    FROM documents
    GROUP BY lang
    """,
)
def text_lang_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus language distribution — the A1 class-distribution shape
    (reference 02_model_training.py:260-261) on document metadata."""
    d = load_table(spark, sf_dir, "documents")
    total = Window.partitionBy()
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars") / F.count(F.lit(1))).alias("avg_chars"),
    ).withColumn("pct_docs", F.col("n_docs") / F.sum("n_docs").over(total))


@query(
    "text_langid",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, lang, {_DUCK_WORDS} AS words FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN len(list_intersect(words, [{_STOP_SQL}])) * 1.0
                     / greatest(len(list_distinct(words)), 1) >= 0.1
                THEN 'en' ELSE 'other' END AS predicted
    FROM w
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: stopword-hit ratio over distinct words
    (the classic n-gram/stopword-profile approach reduced to one profile).
    The deterministic rule — not its accuracy on this synthetic corpus —
    is the operator under test; accuracy vs the `lang` label is measured
    in tests, not asserted."""
    d = load_table(spark, sf_dir, "documents")
    stop_arr = "array({})".format(", ".join(f"'{w}'" for w in STOPWORDS))
    ratio = (
        f"size(array_intersect(array_distinct({_WORDS}), {stop_arr})) / "
        f"greatest(size(array_distinct({_WORDS})), 1)"
    )
    return d.select(
        "doc_id", "lang",
        F.when(F.expr(ratio) >= 0.1, "en").otherwise("other").alias("predicted"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {_DUCK_WORDS} AS words, length(text) AS nc FROM documents
    )
    SELECT doc_id,
           least(len(words) / 100.0, 1.0) * 0.4
           + (len(list_distinct(words)) * 1.0 / nullif(len(words), 0)) * 0.4
           + (len(list_intersect(words, [{_STOP_SQL}])) * 1.0
              / greatest(len(list_distinct(words)), 1)) * 0.2 AS quality
    FROM w
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: 0.4·length-saturation + 0.4·lexical
    diversity + 0.2·stopword-ratio (the Gopher/C4-style rule-based filter
    family). Same double expression tree on both engines -> identical
    bits; a training pipeline would follow with `WHERE quality >= t`.

    Contract (r11): zero-word / NULL documents score NULL (the lexical-
    diversity term is 0/0) — nullif on both engines, so a downstream
    `WHERE quality >= t` naturally drops them."""
    d = load_table(spark, sf_dir, "documents")
    stop_arr = "array({})".format(", ".join(f"'{w}'" for w in STOPWORDS))
    expr = (
        f"least(size({_WORDS}) / 100.0, 1.0) * 0.4 "
        f"+ (size(array_distinct({_WORDS})) / nullif(size({_WORDS}), 0)) * 0.4 "
        f"+ (size(array_intersect(array_distinct({_WORDS}), {stop_arr})) "
        f"   / greatest(size(array_distinct({_WORDS})), 1)) * 0.2"
    )
    return d.select("doc_id", F.expr(expr).alias("quality"))


@query(
    "text_token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x != ''))
                AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
                AS BIGINT) AS bpe_ish_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    (letter runs / digit runs / single punctuation) — the cheap
    token-budget estimator every corpus pipeline needs. Both engines use
    the same RE2-compatible character-class pattern."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr(f"cast(size({_WORDS}) as long)").alias("ws_tokens"),
        F.expr(
            r"cast(size(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9\\s]', 0)) as long)"
        ).alias("bpe_ish_tokens"),
    )


@query(
    "text_fingerprint",
    oracle="""
    WITH chars AS (
        SELECT doc_id, text, string_split(text, '') AS cs FROM documents
    )
    SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL ELSE
           list_reduce(
               list_prepend(CAST(0 AS BIGINT), [CAST(ascii(c) AS BIGINT) FOR c IN cs]),
               (acc, c) -> (acc * 31 + c) % 2147483647
           ) END AS fingerprint
    FROM chars
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint: fold (acc*31 + codepoint) mod
    2^31-1 over the characters. Pure integer arithmetic -> identical on
    any engine; equal texts MUST collide (the invariant exact-dedup can
    build on). Spark folds with aggregate(init=0); DuckDB's list_reduce
    seeds from the first element, so the oracle prepends an explicit 0.

    Contract (r11): NULL text fingerprints to NULL on both engines (the
    oracle needs an explicit CASE — list_prepend(0, NULL) would
    otherwise fold the NULL list to 0, colliding every NULL document
    with the empty document); empty text fingerprints to 0."""
    d = load_table(spark, sf_dir, "documents")
    fp = (
        "aggregate(split(text, ''), 0L, "
        "(acc, c) -> (acc * 31 + ascii(c)) % 2147483647)"
    )
    return d.select("doc_id", F.expr(fp).alias("fingerprint"))


@query(
    "text_ngrams",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {_DUCK_WORDS} AS words FROM documents
    ),
    bigrams AS (
        SELECT unnest([words[i] || ' ' || words[i + 1] FOR i IN range(1, len(words))])
                   AS bigram
        FROM w WHERE len(words) >= 2
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bigrams
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word bigrams corpus-wide. Bigrams are built array-side
    (transform over an index sequence — no self-join), then explode +
    count + deterministic top-k (count desc, bigram asc tiebreak)."""
    d = load_table(spark, sf_dir, "documents")
    # Materialize the words array ONCE per row: referencing the split
    # expression inside the per-index lambda would re-tokenize the text
    # for every element access (O(n^2) per document).
    with_words = d.select(F.expr(_WORDS).alias("words"))
    bigrams = (
        "transform(sequence(1, size(words) - 1), "
        "i -> concat_ws(' ', element_at(words, i), element_at(words, i + 1)))"
    )
    return (
        with_words.filter(F.expr("size(words) >= 2"))
        .select(F.explode(F.expr(bigrams)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@query(
    "text_tfidf_topterms",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_DUCK_WORDS}) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, term
    ),
    -- df counts per-(doc,term) DISTINCT rows with count(*), NOT
    -- count(DISTINCT doc_id): SQL's DISTINCT-agg drops NULL doc_ids
    -- while the engine's .distinct() keeps them as one group (allnull
    -- replica contract)
    df AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
        SELECT t.doc_id, t.term, t.tf, d.df, n.n_docs,
               round(t.tf * (ln((n.n_docs + 1.0) / (d.df + 1.0)) + 1),
                     6) AS s
        FROM tf t JOIN df d USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, n_docs
    FROM (SELECT *, row_number() OVER (
              PARTITION BY doc_id ORDER BY s DESC, term) AS rn
          FROM scored)
    WHERE rn <= 3
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: tf = in-doc count, idf =
    ln((N+1)/(df+1)) + 1 (smoothed), deterministic (score desc, term)
    tiebreak. Distributed shape: one explode + two hash aggregates + a
    broadcast of the (tiny) df table + a per-doc window — no collect.

    FULL oracle (promoted from rows-only, VERDICT r15 #7): the emitted
    columns are the EXACT integers the score is a function of —
    (tf, df, n_docs) alongside (doc_id, term) — so the driver hash
    adjudicates the selection and every scoring input bit-for-bit. The
    float score itself stays display-only (reconstruct as
    round(tf * (ln((n_docs+1)/(df+1)) + 1), 6)): ln is not a
    cross-engine bit contract, so hashing it would trade a solid
    integer check for a fragile float one. Selection ORDERING uses the
    6-dp-rounded score on both engines — a 1-ULP ln divergence
    collapses under the rounding except on exact 5e-7 boundaries, which
    a ln() output does not land on; the ordering contract
    (non-increasing scores, top-k witness bound) is additionally pinned
    by the audit twin text_tfidf_audit."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()
    tokens = d.select("doc_id", F.explode(F.expr(_WORDS)).alias("term"))
    tf = tokens.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df = tokens.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    idf = (F.log((F.lit(float(n_docs)) + 1) / (F.col("df") + 1)) + 1).alias("idf")
    scored = tf.join(
        F.broadcast(df.select("term", "df", idf)), "term"
    ).withColumn("tfidf", F.round(F.col("tf") * F.col("idf"), 6))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.lit(n_docs).cast("long").alias("n_docs"),
        )
    )


@query(
    "pipeline_clean_corpus",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, lang, text, {_DUCK_WORDS} AS words FROM documents
    ),
    quality AS (
        SELECT doc_id, lang, text,
               least(len(words) / 100.0, 1.0) * 0.4
               + (len(list_distinct(words)) * 1.0 / nullif(len(words), 0)) * 0.4
               + (len(list_intersect(words, [{_STOP_SQL}])) * 1.0
                  / greatest(len(list_distinct(words)), 1)) * 0.2 AS q,
               CAST(len(words) AS BIGINT) AS n_tokens
        FROM w
    ),
    kept AS (
        SELECT * FROM quality WHERE q >= 0.3
    ),
    deduped AS (
        SELECT MIN(doc_id) AS doc_id, MIN(lang) AS lang,
               ANY_VALUE(n_tokens) AS n_tokens
        FROM kept GROUP BY text
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM deduped
    GROUP BY lang
    """,
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data cleaning pipeline as ONE lazy plan:
    quality-filter -> exact-dedup (keep lowest doc_id per text) -> token
    accounting per language. Each stage is an operator this engine
    already exposes individually; the point of this entry is that they
    compose into a single Catalyst plan — the filter prunes before the
    dedup shuffle, the dedup shuffle carries digests, and the final
    aggregate is partial+final — with no intermediate materialization.
    That composition IS the product: a 100 TB corpus clean runs as one
    job DAG, not N chained jobs with N disk round-trips."""
    d = load_table(spark, sf_dir, "documents")
    stop_arr = "array({})".format(", ".join(f"'{w}'" for w in STOPWORDS))
    q = (
        f"least(size({_WORDS}) / 100.0, 1.0) * 0.4 "
        f"+ (size(array_distinct({_WORDS})) / nullif(size({_WORDS}), 0)) * 0.4 "
        f"+ (size(array_intersect(array_distinct({_WORDS}), {stop_arr})) "
        f"   / greatest(size(array_distinct({_WORDS})), 1)) * 0.2"
    )
    kept = d.withColumn("q", F.expr(q)).filter(F.col("q") >= 0.3).withColumn(
        "n_tokens", F.expr(f"cast(size({_WORDS}) as long)")
    )
    deduped = kept.groupBy(F.sha2(F.col("text").cast("binary"), 256).alias("h")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min("lang").alias("lang"),
        F.first("n_tokens").alias("n_tokens"),
    )
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@query(
    "text_pii_scrub",
    oracle=r"""
    WITH with_pii AS (
        SELECT doc_id,
               text || ' contact: user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or +1-555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                   AS raw
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(
               regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                              '<EMAIL>', 'g'),
               '\+?\d{1,2}-\d{3}-\d{4}', '<PHONE>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                AS INT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '\+?\d{1,2}-\d{3}-\d{4}')) AS INT) AS n_phones
    FROM with_pii
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: email/phone patterns replaced with typed tags, with
    match counts for audit — the compliance pass every training-data
    pipeline runs before tokenization. The corpus has no PII, so each doc
    gets a synthetic deterministic email+phone appended first; both
    engines run the same RE2-compatible patterns. Pure JVM regexes —
    codegen'd, no Python in the row path."""
    d = load_table(spark, sf_dir, "documents")
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\+?\d{1,2}-\d{3}-\d{4}"
    raw = F.concat(
        F.col("text"), F.lit(" contact: user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
    )
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(raw, email, "<EMAIL>"), phone, "<PHONE>"
        ).alias("scrubbed"),
        F.size(F.regexp_extract_all(raw, F.lit(email), F.lit(0)))
        .cast("int").alias("n_emails"),
        F.size(F.regexp_extract_all(raw, F.lit(phone), F.lit(0)))
        .cast("int").alias("n_phones"),
    )


@query(
    "text_span_dedup",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    chunks AS (
        SELECT doc_id, CAST(i AS INT) AS ci,
               array_to_string(w[(i*10+1):(i*10+10)], ' ') AS chunk
        FROM words, UNNEST(range(CAST(ceil(len(w) / 10.0) AS BIGINT))) AS t(i)
    ),
    kept AS (
        SELECT doc_id, ci, chunk,
               row_number() OVER (PARTITION BY chunk ORDER BY doc_id, ci) AS rn
        FROM chunks
    )
    SELECT doc_id,
           -- ORDER BY ci, chunk: Spark reassembles via array_sort over
           -- (ci, chunk) structs, which breaks ci ties by chunk — ties
           -- only exist when duplicate doc_ids collide on a span index
           -- (r12 dup replica), and an unpinned tie order reassembles
           -- the merged doc differently per engine
           string_agg(chunk, ' ' ORDER BY ci, chunk) AS dedup_text,
           CAST(count(*) AS BIGINT) AS n_spans_kept
    FROM kept WHERE rn = 1
    GROUP BY doc_id
    """,
)
def text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup (the C4 preprocessing move, applied at
    10-word spans since the corpus has no sentence boundaries): every
    document is chunked into non-overlapping word spans, a span that
    appears anywhere earlier in the corpus — (doc_id, position) order —
    is dropped, and each document is reassembled from its surviving
    spans. Documents whose every span is a duplicate disappear entirely,
    exactly like C4 drops fully-duplicated pages.

    Scale shape: explode to one row per span (bounded by corpus
    words/10), ONE shuffle on the span hash for the keep-first window,
    one shuffle back on doc_id for reassembly — no pairwise comparison
    anywhere; global dedup cost is linear in corpus size. Reassembly
    sorts each doc's surviving (position, span) structs in-memory per
    doc (array_sort over collect_list — docs are KB-sized), avoiding a
    per-doc ORDER BY window."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.split("text", " ").alias("w"))
    chunks = words.select(
        "doc_id",
        F.posexplode(
            F.sequence(
                F.lit(0), (F.ceil(F.size("w") / F.lit(10.0)) - 1).cast("int")
            )
        ).alias("pos", "i"),
        F.col("w"),
    ).select(
        "doc_id",
        F.col("i").cast("int").alias("ci"),
        F.concat_ws(" ", F.slice("w", F.col("i") * 10 + 1, 10)).alias("chunk"),
    )
    w_first = Window.partitionBy("chunk").orderBy("doc_id", "ci")
    kept = chunks.withColumn("rn", F.row_number().over(w_first)).filter(
        F.col("rn") == 1
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ci", "chunk"))
            ).alias("spans"),
            F.count(F.lit(1)).alias("n_spans_kept"),
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.transform("spans", lambda s: s["chunk"])
            ).alias("dedup_text"),
            "n_spans_kept",
        )
    )


@query(
    "text_repetition_score",
    oracle="""
    WITH grams AS (
        SELECT doc_id,
               list_transform(
                   range(1, len(string_split(text, ' ')) - 1),
                   i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')
               ) AS g3
        FROM documents
    )
    SELECT doc_id,
           CAST(len(g3) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(g3)) AS BIGINT) AS n_distinct,
           round(1.0 - len(list_distinct(g3)) * 1.0 / len(g3), 6) AS rep_ratio,
           (1.0 - len(list_distinct(g3)) * 1.0 / len(g3)) > 0.2 AS is_repetitive
    FROM grams
    WHERE len(g3) > 0
    """,
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (the Gopher/MassiveText quality
    signal): the fraction of a document's word 3-grams that are repeats
    of an earlier 3-gram in the same document. Heavily-repetitive
    documents (boilerplate, keyword stuffing, degenerate generations)
    score high and get flagged; the 0.2 threshold mirrors the published
    duplicate-n-gram filters.

    Scale shape: pure per-row higher-order functions (transform over a
    sequence + array_distinct) — map-only, no shuffle, no explode; the
    gram lists live only inside the row. Ratio is rounded identically on
    both engines; the flag's strict inequality compares identically-
    derived doubles.

    Perf: grams are hashed to BIGINT via xxhash64(w[i],w[i+1],w[i+2])
    instead of materializing "a b c" strings — ArrayDistinct's generic
    (string) path is an O(n^2) contains-scan per document while the
    primitive long path is hash-set O(n), and the string variant also
    allocated a slice + concat per gram. 30.4s -> sub-second at sf0.1
    (BENCH_r05 / VERDICT r5 #3). Distinct word-triples map 1:1 to
    distinct joined strings (words cannot contain the split char), and
    equal triples always hash equal, so n_distinct matches the oracle's
    string list_distinct except under a 64-bit within-document collision
    (~n^2/2^64 ≈ 1e-12 at 10k grams — below any operational concern,
    and deterministic either way)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    # Short docs (size < 3) have zero 3-grams — drop them up front like
    # the oracle's empty range(1, len-1) does; the filter also keeps
    # sequence(1, size-2) from descending (negative default step).
    g = d.filter(F.size("w") >= 3).select(
        "doc_id",
        (F.size("w") - 2).cast("long").alias("n_grams"),
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 2),
            lambda i: F.xxhash64(
                F.get("w", i - 1), F.get("w", i), F.get("w", i + 1)
            ),
        ).alias("gh"),
    )
    g = g.select(
        "doc_id",
        "n_grams",
        F.size(F.array_distinct("gh")).cast("long").alias("n_distinct"),
    )
    ratio = F.lit(1.0) - F.col("n_distinct") * F.lit(1.0) / F.col("n_grams")
    return g.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        F.round(ratio, 6).alias("rep_ratio"),
        (ratio > 0.2).alias("is_repetitive"),
    )


@query(
    "text_tfidf_audit",
    oracle=f"""
    -- per-doc_id distinct-term count via explode+group, NOT per ROW:
    -- doc_id is the document identity, so duplicated doc_id rows (r12
    -- dup replica) merge into one document exactly as the tf pipeline's
    -- GROUP BY (doc_id, term) merges them
    WITH w AS (
        SELECT doc_id, unnest({_DUCK_WORDS}) AS term FROM documents
    ),
    t AS (
        SELECT doc_id, count(DISTINCT term) AS n_distinct
        FROM w GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(least(3, n_distinct) AS BIGINT) AS n_terms,
           TRUE AS terms_in_doc,
           TRUE AS tf_is_max
    FROM t
    WHERE n_distinct >= 1
    """,
)
def text_tfidf_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TF-IDF contract made oracle-checkable: the top-terms output
    itself is rows-only (ln is not a cross-engine bit contract), but its
    SHAPE is deterministic — per doc, min(3, distinct terms) rows, every
    emitted term present in its document, scores non-increasing down the
    rank. This query emits exactly those facts: the oracle predicts
    n_terms from the document alone and asserts both booleans literally,
    so a ranking bug (wrong k, foreign term, unsorted scores) flips a
    hashed value even though the scores themselves never cross engines.

    The top-k witness is the THEOREM bound, not an empirical one: an
    omitted term o scored no higher than the weakest emitted term e
    (tf_o*idf_o <= tf_e*idf_e), and idf = ln((N+1)/(df+1))+1 lies in
    [1, ln((N+1)/2)+1], so tf_o <= tf_e * (ln((N+1)/2)+1). The first
    draft hard-coded 3x, which held on the uniform driver corpora but
    is NOT implied by the scoring — the zipf-skewed replica's perturbed
    near-dup copies (rare revision tokens: df=1, maximal idf, tf=1 yet
    emitted) broke it on 56 documents (round 9's skew-gate find).

    Scale: the tfidf pipeline (explode + two hash aggregates + window)
    plus one broadcast-sized join back to the per-doc term sets."""
    import math

    out = text_tfidf_topterms(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    n_docs = parquet_row_count(sf_dir, "documents")
    if n_docs is None:
        n_docs = d.count()
    idf_ratio_max = math.log((n_docs + 1) / 2.0) + 1.0
    tf = (
        d.select("doc_id", F.explode(F.expr(_WORDS)).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # localCheckpoint (r17 optimization): the emitted (doc_id, term)
    # witness set is consumed by BOTH the tf join and the per-doc count,
    # and each reference re-executed the whole topterms pipeline
    # (explode + two hash aggregates + window). O(3 x docs) rows.
    emitted = _ckpt(out.select("doc_id", "term"))
    joined = tf.join(
        emitted.withColumn("emitted", F.lit(1)),
        ["doc_id", "term"],
        "left",
    )
    per_doc = joined.groupBy("doc_id").agg(
        F.sum(F.coalesce("emitted", F.lit(0))).alias("n_emitted"),
        F.min(F.when(F.col("emitted") == 1, F.col("tf"))).alias("min_emitted_tf"),
        F.max(F.when(F.col("emitted").isNull(), F.col("tf"))).alias("max_omitted_tf"),
    )
    n_out = emitted.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_terms"))
    return n_out.join(per_doc, "doc_id").select(
        "doc_id",
        "n_terms",
        # every emitted term exists in the doc's term set
        (F.col("n_emitted") == F.col("n_terms")).alias("terms_in_doc"),
        # top-k witness: no omitted term's raw frequency may exceed the
        # weakest emitted term's times the maximal idf ratio
        # ln((N+1)/2)+1 — the exact bound the smoothed-idf scoring
        # implies; bottom-k selection still violates this immediately
        # on any skewed doc (tf ratios there are orders of magnitude)
        (
            F.coalesce("max_omitted_tf", F.lit(0)).cast("double")
            <= F.col("min_emitted_tf") * F.lit(idf_ratio_max)
        ).alias("tf_is_max"),
    )


CHUNK_SIZE = 16
CHUNK_STRIDE = 12


@query(
    "text_chunk_sliding",
    oracle=f"""
    SELECT doc_id,
           CAST(s // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(w, s + 1, s + {CHUNK_SIZE})) AS BIGINT)
               AS n_tokens,
           coalesce(array_to_string(list_slice(w, s + 1, s + {CHUNK_SIZE}),
                                    ' '), '')
               AS chunk_text
    FROM (SELECT doc_id, w,
                 unnest(range(0, greatest(len(w), 1), {CHUNK_STRIDE})) AS s
          FROM (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents
                WHERE text IS NOT NULL))
    """,
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: split each document into overlapping
    {CHUNK_SIZE}-word chunks at stride {CHUNK_STRIDE} — the standard
    context-window packing prep for LLM pretraining (every token is
    seen; consecutive chunks overlap by size - stride words so no
    boundary context is lost). The final chunk may be short; a document
    with fewer words than one stride still yields chunk 0; a NULL-text
    document yields no chunks (r11 contract — there is nothing to chunk,
    and Spark/DuckDB disagree on ''-vs-NULL chunk_text for NULL arrays).

    Pure JVM: split + sequence + explode + slice — the chunk fan-out is
    bounded by ceil(words/stride) per document and the whole operator is
    map-only (no shuffle), so at 100 TB it runs at scan speed and feeds
    straight into pack_sequences.
    """
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.expr(_WORDS).alias("w"))
    )
    d = d.select(
        "doc_id",
        "w",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.size("w") - 1, F.lit(0)),
                F.lit(CHUNK_STRIDE),
            )
        ).alias("s"),
    )
    return d.select(
        "doc_id",
        F.expr(f"CAST(s div {CHUNK_STRIDE} AS BIGINT)").alias("chunk_idx"),
        F.expr(f"CAST(size(slice(w, s + 1, {CHUNK_SIZE})) AS BIGINT)").alias(
            "n_tokens"
        ),
        F.expr(f"array_join(slice(w, s + 1, {CHUNK_SIZE}), ' ')").alias(
            "chunk_text"
        ),
    )


# --- feature hashing + surprisal scoring (r14) ------------------------------

HASH_BUCKETS = 1024  # fixed-width feature space, vocabulary-independent


@query(
    "feature_hash_vectorize",
    oracle=rf"""
    WITH w AS (
        SELECT doc_id, unnest({_DUCK_WORDS}) AS word FROM documents
    ),
    h AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT)
                   % {HASH_BUCKETS} AS bucket,
               CASE WHEN substr(md5(word), 9, 1) < '8'
                    THEN 1 ELSE -1 END AS sgn
        FROM w
    )
    SELECT doc_id,
           CAST(bucket AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS tf,
           CAST(sum(sgn) AS BIGINT) AS signed_tf
    FROM h GROUP BY doc_id, bucket
    """,
)
def feature_hash_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009, ICML — 'Feature
    Hashing for Large Scale Multitask Learning'): each token is mapped
    to one of {HASH_BUCKETS} buckets by a hash, giving every document a
    FIXED-width sparse feature vector with no vocabulary dictionary at
    all — the standard way to featurize an unbounded/streaming vocab at
    corpus scale (no global vocab shuffle, no OOV problem, memory
    independent of vocabulary size). Output is the sparse form: one
    (doc_id, bucket, tf, signed_tf) row per nonzero bucket.

    ``signed_tf`` is the unbiased estimator variant: a second hash bit
    flips the sign per token, so E[collision contribution] = 0 — the
    part of the trick naive implementations skip.

    Cross-engine exactness: the hash is the first 8 hex digits of
    md5(token) (Spark ``conv(.., 16, 10)``, DuckDB ``'0x' || ..`` cast)
    and the sign bit is the 9th digit — both engines compute the
    identical bucket and sign for every UTF-8 token, so tf AND the
    collision-sensitive signed_tf are hash-adjudicable.

    Scale shape: explode -> map-side md5/bucket (JVM built-ins, inside
    codegen) -> ONE groupBy(doc_id, bucket) shuffle with map-side
    partial aggregation. No vocabulary state anywhere — the whole point
    at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.expr(_WORDS)).alias("word")
    )
    md5c = F.md5(F.col("word").cast("binary"))
    h = words.select(
        "doc_id",
        (
            F.conv(F.substring(md5c, 1, 8), 16, 10).cast("long")
            % HASH_BUCKETS
        )
        .cast("int")
        .alias("bucket"),
        F.when(F.substring(md5c, 9, 1) < "8", F.lit(1))
        .otherwise(F.lit(-1))
        .alias("sgn"),
    )
    return h.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("tf"),
        F.sum("sgn").cast("long").alias("signed_tf"),
    )


@query(
    "text_surprisal_proxy",
    oracle=rf"""
    WITH w AS (
        SELECT doc_id, unnest({_DUCK_WORDS}) AS word FROM documents
    ),
    vocab AS (
        SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY word
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM w),
    scored AS (
        SELECT w.doc_id,
               CAST(length(bin(tot.n // v.cnt)) - 1 AS BIGINT) AS bits
        FROM w JOIN vocab v ON w.word = v.word, tot
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(bits) AS BIGINT) AS surprisal_bits,
           CAST(sum(bits) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS mean_bits
    FROM scored GROUP BY doc_id
    """,
)
def text_surprisal_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-surprisal quality score — the integer-exact skeleton of
    the CCNet/KenLM perplexity filter (Wenzek et al. 2020: rank corpus
    documents by LM perplexity; docs made of rare tokens score high,
    boilerplate scores low). A real LM is a deployment swap; the
    unigram proxy already separates gibberish/rare-token docs from
    repetitive boilerplate and needs nothing but the corpus itself.

    Exactness contract: per-token surprisal is defined AS
    floor(log2(N // cnt(token))) computed via bit position —
    ``length(bin(q)) - 1`` on BOTH engines (Spark and DuckDB both have
    bin()) — so every score is integer-exact and hash-adjudicable; no
    transcendental log whose last ulp could differ. mean_bits is ONE
    division of identical integers -> bit-identical doubles.

    Scale shape: vocab counts = one groupBy(word) with map-side
    combine; the token->count join is a plain hash join on word (AQE
    handles the zipf-head skew — hot words are exactly the
    skew-join-splittable case); one final groupBy(doc_id). No driver
    state, no vocabulary cap."""
    import os as _os

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        return d.select("doc_id", F.explode(F.expr(_WORDS)).alias("word"))

    src = [_os.path.join(sf_dir, "documents.parquet")]
    words = memo(spark, "surprisal_words", src, build, persist=True)
    vocab = words.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot = words.agg(F.count(F.lit(1)).cast("long").alias("n"))
    scored = (
        words.join(vocab, "word")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            (
                F.length(F.bin(F.expr("n div cnt"))) - F.lit(1)
            )
            .cast("long")
            .alias("bits"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("bits").cast("long").alias("surprisal_bits"),
        (
            F.sum("bits").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("mean_bits"),
    )


# Closed-form bit-block rank sums for text_zipf_fit: G(t) = sum_{r=1..t}
# floor(log2 r) and G2(t) = sum of its squares, via per-bit-block
# counting (ranks in [2^b, 2^(b+1)) all contribute b). b stops at 61 so
# shiftleft(1, b+1) never overflows BIGINT; t < 2^62 covers any corpus.
def _rank_bits_sum(t: str, squared: bool = False) -> str:
    w = "cast(b as bigint) * cast(b as bigint)" if squared \
        else "cast(b as bigint)"
    return (
        f"aggregate(sequence(0, 61), cast(0 as bigint), (acc, b) -> "
        f"acc + {w} * greatest(cast(0 as bigint), "
        f"least({t}, shiftleft(cast(1 as bigint), b + 1) - 1) "
        f"- shiftleft(cast(1 as bigint), b) + 1))"
    )


def _duck_rank_bits_sum(t: str, squared: bool = False) -> str:
    w = "b * b" if squared else "b"
    return (
        f"CAST(COALESCE(list_sum([{w} * greatest(0, "
        f"least({t}, (1::BIGINT << (b + 1)) - 1) - (1::BIGINT << b) + 1) "
        f"FOR b IN range(0, 62)]), 0) AS BIGINT)"
    )


@query(
    "text_zipf_fit",
    oracle=f"""
    WITH words AS (
        SELECT unnest({_DUCK_WORDS}) AS word
        FROM documents WHERE text IS NOT NULL
    ),
    vocab AS (
        SELECT word, CAST(count(*) AS BIGINT) AS cnt
        FROM words GROUP BY word
    ),
    hist AS (
        SELECT cnt, CAST(count(*) AS BIGINT) AS m
        FROM vocab GROUP BY cnt
    ),
    iv AS (
        SELECT cnt, m,
               SUM(m) OVER (ORDER BY cnt DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS hi
        FROM hist
    ),
    terms AS (
        SELECT m,
               cnt * m AS ntok,
               length(bin(cnt)) - 1 AS y,
               {_duck_rank_bits_sum('hi')}
                   - {_duck_rank_bits_sum('hi - m')} AS sx,
               {_duck_rank_bits_sum('hi', True)}
                   - {_duck_rank_bits_sum('hi - m', True)} AS sx2
        FROM iv
    ),
    tot AS (
        SELECT CAST(SUM(m) AS BIGINT) AS k,
               CAST(SUM(ntok) AS BIGINT) AS n_tokens,
               CAST(SUM(sx) AS BIGINT) AS sum_x,
               CAST(SUM(m * y) AS BIGINT) AS sum_y,
               CAST(SUM(y * sx) AS BIGINT) AS sum_xy,
               CAST(SUM(sx2) AS BIGINT) AS sum_x2
        FROM terms
    )
    ,dec AS (
        SELECT k, n_tokens, sum_x, sum_y, sum_xy, sum_x2,
               CAST(CAST(k AS DECIMAL(19,0)) * CAST(sum_xy AS DECIMAL(19,0))
                    - CAST(sum_x AS DECIMAL(19,0))
                      * CAST(sum_y AS DECIMAL(19,0)) AS DECIMAL(38,0))
                   AS slope_num,
               CAST(CAST(k AS DECIMAL(19,0)) * CAST(sum_x2 AS DECIMAL(19,0))
                    - CAST(sum_x AS DECIMAL(19,0))
                      * CAST(sum_x AS DECIMAL(19,0)) AS DECIMAL(38,0))
                   AS slope_den
        FROM tot
    )
    SELECT k AS n_types, n_tokens, sum_x, sum_y, sum_xy, sum_x2,
           CAST(slope_num AS DOUBLE) AS slope_num,
           CAST(slope_den AS DOUBLE) AS slope_den,
           CAST(slope_num AS DOUBLE)
               / CAST(nullif(slope_den, 0) AS DOUBLE) AS zipf_slope
    FROM dec
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus rank-frequency curve — the standard
    one-number health check of a training corpus (natural text fits
    slope ~ -1 on log-log rank/frequency; scraped boilerplate, dedup
    failures, and synthetic spam all bend it). Implemented as an OLS
    slope of y = floor(log2 frequency) on x = floor(log2 rank), with
    EVERY statistic exact in BIGINT:

    * y is a bit-length (``length(bin(cnt)) - 1``) on both engines;
    * x never requires ranking the vocabulary at all — floor(log2 r)
      summed over a rank INTERVAL has a closed form by counting ranks
      per bit-block (ranks [2^b, 2^(b+1)) each contribute b), so the
      engine aggregates the count HISTOGRAM (one row per distinct
      frequency, with its cumulative rank interval [hi-m+1, hi]) and
      evaluates G(hi) - G(hi-m) per row. Ties in frequency are a
      non-issue by construction: any rank assignment within an equal-
      count interval yields the same interval sums, so no total-order
      tiebreak is ever needed (the r12/r13 dup-replica failure class
      can't exist here).
    * the final slope is ONE division of two identically-computed
      BIGINTs (k*Sxy - Sx*Sy) / (k*Sx2 - Sx^2) -> bit-identical
      doubles; the exact integer numerator/denominator are also
      emitted, so the fit itself is hash-adjudicated, not just
      approximated. Degenerate designs (single rank bucket) yield
      NULL slope via nullif on both engines.

    Scale shape: one groupBy(word) with map-side combine (the only
    corpus-sized shuffle), then a groupBy(cnt) onto a histogram whose
    size is O(distinct frequencies) ~ O(log N) under Zipf — the window
    and closed-form pass run on that tiny relation; no global sort over
    the vocabulary, no per-word rank materialization. The partial sums
    (Sx, Sx2, Sxy ~ k*(log2 k)^2) stay inside BIGINT up to k ~ 1e15
    types, but the CROSS products k*Sx2 and Sx^2 leave int64 around
    k ~ 1e8-1e9 — with ANSI off Spark would wrap silently while DuckDB
    raises — so slope_num/slope_den are computed in DECIMAL(38,0) on
    BOTH engines (safe to k ~ 1e12 types, far beyond any real
    vocabulary) but EMITTED as DOUBLE: identical decimals cast to
    identical correctly-rounded doubles, and the float path is the one
    the driver's value normalizer is proven on (a DECIMAL output
    column was hash-red in CORRECTNESS_r15 despite bit-identical
    values — VERDICT r15 'what's wrong' #1)."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.explode(F.expr(_WORDS)).alias("word"))
    vocab = words.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    hist = vocab.groupBy("cnt").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    w = Window.orderBy(F.desc("cnt")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    iv = hist.select("cnt", "m", F.sum("m").over(w).alias("hi"))
    terms = iv.select(
        "m",
        (F.col("cnt") * F.col("m")).alias("ntok"),
        (F.length(F.bin(F.col("cnt"))) - F.lit(1))
        .cast("long")
        .alias("y"),
        (
            F.expr(_rank_bits_sum("hi"))
            - F.expr(_rank_bits_sum("hi - m"))
        ).alias("sx"),
        (
            F.expr(_rank_bits_sum("hi", True))
            - F.expr(_rank_bits_sum("hi - m", True))
        ).alias("sx2"),
    )
    tot = terms.agg(
        F.sum("m").cast("long").alias("k"),
        F.sum("ntok").cast("long").alias("n_tokens"),
        F.sum("sx").cast("long").alias("sum_x"),
        F.sum(F.col("m") * F.col("y")).cast("long").alias("sum_y"),
        F.sum(F.col("y") * F.col("sx")).cast("long").alias("sum_xy"),
        F.sum("sx2").cast("long").alias("sum_x2"),
    )
    d19 = "decimal(19,0)"
    num = (
        F.col("k").cast(d19) * F.col("sum_xy").cast(d19)
        - F.col("sum_x").cast(d19) * F.col("sum_y").cast(d19)
    ).cast("decimal(38,0)")
    den = (
        F.col("k").cast(d19) * F.col("sum_x2").cast(d19)
        - F.col("sum_x").cast(d19) * F.col("sum_x").cast(d19)
    ).cast("decimal(38,0)")
    return tot.select(
        F.col("k").alias("n_types"),
        "n_tokens",
        "sum_x",
        "sum_y",
        "sum_xy",
        "sum_x2",
        num.cast("double").alias("slope_num"),
        den.cast("double").alias("slope_den"),
        (
            num.cast("double")
            / F.nullif(den, F.lit(0)).cast("double")
        ).alias("zipf_slope"),
    )


@query(
    "text_bigram_pmi",
    oracle=f"""
    WITH docs AS (
        SELECT {_DUCK_WORDS} AS wl
        FROM documents WHERE text IS NOT NULL
    ),
    pairs AS (
        SELECT p[1] AS w1, p[2] AS w2
        FROM (SELECT unnest([[wl[i], wl[i + 1]]
                             FOR i IN range(1, len(wl))]) AS p
              FROM docs)
    ),
    big AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
        FROM pairs GROUP BY w1, w2
    ),
    -- margins/total derived from the grouped relation, NOT from a
    -- second pass over pairs: sum(c_xy) by w1 == count of pairs by w1
    lefts AS (
        SELECT w1, CAST(SUM(c_xy) AS BIGINT) AS c_x FROM big GROUP BY w1
    ),
    rights AS (
        SELECT w2, CAST(SUM(c_xy) AS BIGINT) AS c_y FROM big GROUP BY w2
    ),
    tot AS (SELECT CAST(SUM(c_xy) AS BIGINT) AS n_bigrams FROM big)
    SELECT b.w1, b.w2, b.c_xy, l.c_x, r.c_y, t.n_bigrams,
           CAST(b.c_xy * t.n_bigrams AS DOUBLE)
               / CAST(l.c_x * r.c_y AS DOUBLE) AS pmi_ratio
    FROM big b
    JOIN lefts l ON b.w1 = l.w1
    JOIN rights r ON b.w2 = r.w2
    CROSS JOIN tot t
    WHERE b.c_xy >= 5
    ORDER BY pmi_ratio DESC, b.w1, b.w2
    LIMIT 50
    """,
)
def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by pointwise mutual information — the
    classic corpus-analysis pass (Church & Hanks 1990) a training
    pipeline runs to find multi-word units, boilerplate n-grams, and
    tokenizer-merge candidates. PMI = log p(x,y)/(p(x)p(y)); since log
    is monotone, ranking by the RATIO (c_xy * N) / (c_x * c_y) is the
    same ordering with no transcendental in sight — the ratio is ONE
    division of two identically-computed exact BIGINT products, so the
    score is bit-identical cross-engine and the top-50 is
    hash-adjudicable. Margins are positional (c_x = occurrences as
    FIRST element, c_y = as SECOND), the standard contingency-table
    convention; min-support c_xy >= 5 (Church & Hanks' cutoff) keeps
    the head stable. Tie order is total: (ratio DESC, w1, w2) — (w1,
    w2) is unique after the group-by.

    Scale shape: adjacent pairs are built MAP-SIDE inside codegen
    (transform over the split array — no posexplode self-join, no
    per-token shuffle); then one groupBy(w1,w2) with map-side combine
    and two vocabulary-sized margin aggregations joined back by hash
    join (AQE splits the zipf-head hot keys); the 1-row total is a
    broadcast. Top-50 is a TakeOrderedAndProject, never a global sort
    materialization. BIGINT holds c_xy*N to ~2^63 (a 10^12-bigram
    corpus with a 10^9-count head pair needs DECIMAL(38,0) — noted,
    not hit at any gated SF)."""
    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        # Materialize the words array ONCE per row before the per-index
        # lambda touches it (the SCALE.md text-operator rule): referencing
        # _WORDS inside element_at would re-run split(text) per element —
        # O(len^2) per document, the 100x-gate timeout on first contact.
        pairs = (
            d.where(F.col("text").isNotNull())
            .select(F.expr(_WORDS).alias("ws"))
            .select(
                F.explode(
                    F.expr(
                        # greatest(.., 0): a 0-word doc would make the slice
                        # length -1, which slice() rejects (adversarial
                        # whitespace-only documents)
                        "transform(slice(ws, 1, greatest(size(ws) - 1, 0)), "
                        "(x, i) -> struct(x as w1, "
                        "element_at(ws, i + 2) as w2))"
                    )
                ).alias("p")
            )
            .select("p.w1", "p.w2")
        )
        return pairs.groupBy("w1", "w2").agg(
            F.count(F.lit(1)).cast("long").alias("c_xy")
        )

    # session-persist the grouped relation (vocab^2-bounded, tiny next
    # to the corpus): its four consumers below then share ONE corpus
    # scan by construction — not merely by AQE exchange reuse, which
    # only dedupes at runtime and leaves the static plan 4-scan.
    import os as _os

    src = [_os.path.join(sf_dir, "documents.parquet")]
    big = memo(spark, "bigram_counts", src, build, persist=True)
    # margins + total derived from the GROUPED relation (vocab^2-bounded),
    # not by re-scanning pairs three more times: sum(c_xy) by w1 is the
    # pair count by w1. One corpus-sized pass total.
    lefts = big.groupBy("w1").agg(F.sum("c_xy").cast("long").alias("c_x"))
    rights = big.groupBy("w2").agg(F.sum("c_xy").cast("long").alias("c_y"))
    tot = big.agg(F.sum("c_xy").cast("long").alias("n_bigrams"))
    return (
        big.where(F.col("c_xy") >= 5)
        .join(lefts, "w1")
        .join(rights, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "w2", "c_xy", "c_x", "c_y", "n_bigrams",
            (
                (F.col("c_xy") * F.col("n_bigrams")).cast("double")
                / (F.col("c_x") * F.col("c_y")).cast("double")
            ).alias("pmi_ratio"),
        )
        .orderBy(F.desc("pmi_ratio"), "w1", "w2")
        .limit(50)
    )


@query(
    "text_url_canonicalize",
    oracle="""
    WITH v AS (
        -- ((x % m) + m) % m == Spark's pmod: DuckDB's % keeps the sign
        -- of the dividend, so a negative doc_id would diverge
        -- (ADVICE r15 #3)
        SELECT doc_id, source,
               ((doc_id % 2) + 2) % 2 AS c2, ((doc_id % 3) + 3) % 3 AS c3,
               ((doc_id % 4) + 4) % 4 AS c4, ((doc_id % 5) + 5) % 5 AS c5,
               ((doc_id % 6) + 6) % 6 AS c6, ((doc_id % 7) + 7) % 7 AS c7
        FROM documents
    ),
    parts AS (
        SELECT doc_id, source, c2, c3, c4, c5, c6, c7,
               -- hostname sanitized to DNS-valid chars (a crawler's URLs
               -- have valid hosts by construction; the dup replicas edit
               -- source to values like 'hot_source' whose underscore
               -- makes java.net.URI reject the authority). An EMPTY
               -- sanitized source would build 'www..example.com', which
               -- java.net.URI rejects -> engine NULL vs oracle string
               -- (ADVICE r15 #3): fall back to the literal 'src'.
               'www.' || coalesce(nullif(lower(regexp_replace(source,
                                  '[^a-zA-Z0-9-]', '-', 'g')), ''), 'src')
                      || '.example.com' AS host,
               'a=' || CAST(((doc_id % 10) + 10) % 10 AS VARCHAR) AS pa,
               'b=' || CAST(c7 AS VARCHAR) AS pb
        FROM v
    ),
    built AS (
        SELECT doc_id,
               CASE WHEN doc_id IS NULL OR source IS NULL THEN NULL ELSE
                   (CASE WHEN c2 = 0 THEN 'https' ELSE 'HTTPS' END)
                   || '://'
                   || (CASE WHEN c3 = 0 THEN upper(host) ELSE host END)
                   || (CASE WHEN c5 = 0 THEN ':443'
                            WHEN c5 = 1 THEN ':8443' ELSE '' END)
                   || '/docs' || (CASE WHEN c4 = 0 THEN '//' ELSE '/' END)
                   || CAST(doc_id AS VARCHAR)
                   || (CASE WHEN c7 = 0 THEN '/' ELSE '' END)
                   || '?'
                   || (CASE WHEN c3 = 1 THEN 'utm_source=feed&' ELSE '' END)
                   || (CASE WHEN c2 = 0 THEN pa || '&' || pb
                            ELSE pb || '&' || pa END)
                   || (CASE WHEN c6 = 0
                            THEN '#sec' || CAST(c4 AS VARCHAR) ELSE '' END)
               END AS url_raw,
               CASE WHEN doc_id IS NULL OR source IS NULL THEN NULL ELSE
                   'https://' || host
                   || (CASE WHEN c5 = 1 THEN ':8443' ELSE '' END)
                   || '/docs/' || CAST(doc_id AS VARCHAR)
                   || '?' || pa || '&' || pb
               END AS url_canonical,
               CASE WHEN doc_id IS NULL OR source IS NULL THEN NULL
                    ELSE CAST(CASE WHEN c3 = 1 THEN 1 ELSE 0 END AS INT)
               END AS n_dropped_params,
               CASE WHEN doc_id IS NULL OR source IS NULL THEN NULL
                    ELSE c6 = 0
               END AS had_fragment
        FROM parts
    )
    SELECT doc_id, url_raw, url_canonical, n_dropped_params, had_fragment
    FROM built
    """,
)
def text_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the first dedup step of every web-scrape
    pipeline (the same page arrives as `HTTPS://WWW.Host.COM:443//p?b=2&
    utm_source=feed&a=1#frag` and `https://www.host.com/p?a=1&b=2`;
    URL-level dedup before content-level dedup cuts fetch and shingle
    volume by the duplicate factor). Stage 1 SYNTHESIZES a messy-but-
    valid URL per document — deterministic surface variation keyed on
    doc_id: scheme/host case, a default (:443, must drop) vs non-default
    (:8443, must KEEP) port, duplicate and trailing slashes, shuffled
    query-parameter order, utm_* tracking junk, fragments — exactly the
    codec-family move of building the realistic input in-plan. Stage 2
    canonicalizes with the REAL algorithm, entirely in JVM built-ins
    (parse_url for PROTOCOL/AUTHORITY/PATH/QUERY/REF + higher-order
    array ops; no Python in the plan):

      lowercase scheme + host; strip the scheme-default port but keep
      non-default ports (AUTHORITY-regex extraction, since parse_url
      HOST silently drops ports); collapse duplicate slashes and strip
      the trailing slash; split the query, DROP utm_*/fbclid params,
      SORT the remainder; drop the fragment.

    The oracle never parses a URL: it recomputes the canonical form
    from first principles off the same (doc_id, source) variant bits,
    so the check asserts SEMANTIC INVARIANCE — every surface variant
    must collapse to the identical canonical string, and any
    canonicalization defect (case, port, param order, junk params,
    slashes, fragment) is a hash mismatch. NULL doc_id/source -> NULL
    row (diagnostic contract).

    Scale shape: map-only — one projection chain over the documents
    scan, no shuffle, no UDF; at 100 TB this runs at scan speed."""
    d = load_table(spark, sf_dir, "documents")
    v = d.select(
        "doc_id",
        "source",
        *[
            F.pmod(F.col("doc_id"), F.lit(m)).alias(f"c{m}")
            for m in (2, 3, 4, 5, 6, 7)
        ],
        F.concat(
            F.lit("www."),
            F.coalesce(
                F.nullif(
                    F.lower(
                        F.regexp_replace("source", "[^a-zA-Z0-9-]", "-")
                    ),
                    F.lit(""),
                ),
                F.lit("src"),
            ),
            F.lit(".example.com"),
        ).alias("host"),
    ).withColumn(
        "pa", F.concat(F.lit("a="), F.pmod(F.col("doc_id"), F.lit(10)))
    ).withColumn("pb", F.concat(F.lit("b="), F.col("c7")))
    raw = F.when(
        F.col("doc_id").isNotNull() & F.col("source").isNotNull(),
        F.concat(
            F.when(F.col("c2") == 0, F.lit("https")).otherwise(F.lit("HTTPS")),
            F.lit("://"),
            F.when(F.col("c3") == 0, F.upper("host")).otherwise(F.col("host")),
            F.when(F.col("c5") == 0, F.lit(":443"))
            .when(F.col("c5") == 1, F.lit(":8443"))
            .otherwise(F.lit("")),
            F.lit("/docs"),
            F.when(F.col("c4") == 0, F.lit("//")).otherwise(F.lit("/")),
            F.col("doc_id").cast("string"),
            F.when(F.col("c7") == 0, F.lit("/")).otherwise(F.lit("")),
            F.lit("?"),
            F.when(F.col("c3") == 1, F.lit("utm_source=feed&")).otherwise(
                F.lit("")
            ),
            F.when(
                F.col("c2") == 0,
                F.concat("pa", F.lit("&"), "pb"),
            ).otherwise(F.concat("pb", F.lit("&"), "pa")),
            F.when(
                F.col("c6") == 0,
                F.concat(F.lit("#sec"), F.col("c4").cast("string")),
            ).otherwise(F.lit("")),
        ),
    )
    u = v.withColumn("url_raw", raw)
    # --- the REAL canonicalizer: operates only on url_raw ----------------
    proto = F.lower(F.expr("parse_url(url_raw, 'PROTOCOL')"))
    authority = F.expr("parse_url(url_raw, 'AUTHORITY')")
    host_c = F.lower(F.expr("parse_url(url_raw, 'HOST')"))
    port = F.regexp_extract(authority, r":(\d+)$", 1)
    default_port = F.when(proto == "https", F.lit("443")).when(
        proto == "http", F.lit("80")
    ).otherwise(F.lit(""))
    port_c = F.when(
        (port == "") | (port == default_port), F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    path0 = F.regexp_replace(F.expr("parse_url(url_raw, 'PATH')"), "/{2,}", "/")
    path_c = F.when(path0 == "/", path0).otherwise(
        F.regexp_replace(path0, "/$", "")
    )
    params = F.expr(
        "filter(split(coalesce(parse_url(url_raw, 'QUERY'), ''), '&'), "
        "p -> p != '' AND NOT p LIKE 'utm_%' AND NOT p LIKE 'fbclid=%')"
    )
    all_params = F.expr(
        "filter(split(coalesce(parse_url(url_raw, 'QUERY'), ''), '&'), "
        "p -> p != '')"
    )
    query_c = F.array_join(F.array_sort(params), "&")
    canonical = F.concat(
        proto,
        F.lit("://"),
        host_c,
        port_c,
        path_c,
        F.when(query_c == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), query_c)
        ),
    )
    has_url = F.col("url_raw").isNotNull()
    return u.select(
        "doc_id",
        "url_raw",
        F.when(has_url, canonical).alias("url_canonical"),
        F.when(has_url, F.size(all_params) - F.size(params))
        .cast("int")
        .alias("n_dropped_params"),
        F.when(
            has_url, F.expr("parse_url(url_raw, 'REF')").isNotNull()
        ).alias("had_fragment"),
    )


# --- BPE tokenizer training (distributed pair-merge learning) ---------------

BPE_MERGES = 6
# a control char no lowercase-alpha symbol string can contain — the
# no-op replace pattern when a round found no pair to merge
_BPE_NOOP = "chr(1)"


def _bpe_oracle(k: int) -> str:
    """Unrolled DuckDB twin of the k-round BPE merge loop. Round i:
    pair counts from syms_{i-1} (freq-weighted, zip-unnest of adjacent
    symbols), argmax (cnt DESC, lhs, rhs), rewrite via delimiter-
    consuming replace. Scalar subqueries carry the data-dependent merge
    into the next stage; coalesce to an impossible pattern keeps later
    stages no-ops when fewer than k merges exist."""
    parts = [
        """
    w0 AS (
        SELECT word, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest({words}) AS word FROM documents)
        WHERE regexp_matches(word, '^[a-z]+$')
        GROUP BY word
    ),
    s0 AS (
        SELECT word, freq,
               ' ' || array_to_string(
                   [substring(word, i, 1)
                    FOR i IN range(1, len(word) + 1)], '  ') || ' ' AS sym
        FROM w0
    )""".format(words=_DUCK_WORDS)
    ]
    for i in range(1, k + 1):
        parts.append(f"""
    p{i} AS (
        SELECT l AS lhs, r AS rhs, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM (
            SELECT freq,
                   unnest(wl[1:len(wl) - 1]) AS l,
                   unnest(wl[2:len(wl)]) AS r
            FROM (SELECT freq,
                         list_filter(string_split(trim(sym), ' '),
                                     x -> x != '') AS wl
                  FROM s{i - 1})
        )
        GROUP BY l, r
    ),
    t{i} AS (
        SELECT lhs, rhs, cnt FROM p{i}
        ORDER BY cnt DESC, lhs, rhs LIMIT 1
    ),
    s{i} AS (
        SELECT word, freq,
               replace(sym,
                       coalesce((SELECT ' ' || lhs || '  ' || rhs || ' '
                                 FROM t{i}), {_BPE_NOOP}),
                       coalesce((SELECT ' ' || lhs || rhs || ' '
                                 FROM t{i}), '')) AS sym
        FROM s{i - 1}
    )""")
    return "WITH " + ",".join(parts)


@query(
    "text_bpe_learn",
    oracle=_bpe_oracle(BPE_MERGES)
    + "\n    "
    + " UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS merge_rank, lhs, rhs, "
        f"lhs || rhs AS merged, cnt AS pair_count FROM t{i}"
        for i in range(1, BPE_MERGES + 1)
    ),
)
def text_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING as a distributed pipeline — the merge-
    learning loop of Sennrich et al. 2016 (public): start from
    characters, repeatedly merge the most frequent adjacent symbol
    pair. Emits the learned merge table (rank, lhs, rhs, merged,
    pair_count), BPE_MERGES rows (fewer if the corpus runs dry).

    Distributed shape (the Sennrich dedup): merges are learned over the
    DISTINCT-WORD table weighted by corpus frequency — one corpus-sized
    explode+groupBy builds (word, freq) once, and every merge round is
    then VOCABULARY-sized: explode adjacent symbol pairs (map-side,
    zip of the symbol array against itself), one freq-weighted groupBy
    with map-side combine, a 1-row argmax collect (cnt DESC, lhs, rhs
    total order), and a map-only rewrite of the symbol strings. At
    100 TB the corpus is touched once; the k rounds cost k passes over
    the vocabulary (~millions of rows), each an embarrassingly small
    job.

    Determinism contract (both engines, pinned by the oracle): words
    are lowercase-alpha only (``^[a-z]+$`` — sidesteps cross-engine
    UTF-16/UTF-8 indexing of surrogate pairs); symbol strings are
    space-delimited with sentinel spaces; merge application is
    LEFT-TO-RIGHT NON-OVERLAPPING delimiter-consuming string replace —
    on a run 'a a a' the first pair wins and the run yields 'aa a'
    (textbook pairwise BPE differs on odd runs; replace() semantics are
    identical in Spark and DuckDB, tested on exactly this case).

    The oracle replays all BPE_MERGES rounds as unrolled CTE stages
    with scalar-subquery merge carries — the entire learned table is
    hash-adjudicated, argmax tie-breaks included."""
    schema = (
        "merge_rank int, lhs string, rhs string, merged string,"
        " pair_count long"
    )
    return spark.createDataFrame(
        _bpe_learn_merges(spark, sf_dir, BPE_MERGES), schema
    )


def _bpe_sym_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq, sym) initial BPE state: corpus-frequency-weighted
    distinct alpha words, symbol string = space-delimited characters
    with sentinel spaces."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.expr(_WORDS)).alias("word"))
        .filter(F.expr("word rlike '^[a-z]+$'"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    return words.select(
        "word",
        "freq",
        F.expr(
            "concat(' ', array_join(transform(sequence(1, length(word)), "
            "i -> substring(word, i, 1)), '  '), ' ')"
        ).alias("sym"),
    )


def _bpe_pair_counts(syms: DataFrame) -> DataFrame:
    """Freq-weighted adjacent-symbol pair counts (lhs, rhs, cnt) over a
    symbol table — one vocabulary-sized groupBy with map-side combine."""
    pairs = syms.select(
        "freq",
        F.expr("filter(split(trim(sym), ' '), x -> x != '')").alias("wl"),
    ).select(
        "freq",
        F.explode(
            F.expr(
                "transform(slice(wl, 1, greatest(size(wl) - 1, 0)), "
                "(x, i) -> struct(x AS l, element_at(wl, i + 2) AS r))"
            )
        ).alias("p"),
    )
    return pairs.groupBy(
        F.col("p.l").alias("lhs"), F.col("p.r").alias("rhs")
    ).agg(F.sum("freq").cast("long").alias("cnt"))


def _bpe_learn_merges(
    spark: SparkSession,
    sf_dir: str,
    n_merges: int,
    round_walls: list | None = None,
) -> list[tuple]:
    """The exact Sennrich loop, parameterized on merge count so the
    registered query (BPE_MERGES) and the scale probe
    (scripts/probe_bpe_merges.py, VERDICT r16 #2b) share one
    implementation. ``round_walls``, when given, receives each round's
    wall seconds (argmax job + rewrite)."""
    import time as _time

    syms = _bpe_sym_table(spark, sf_dir)
    merges: list[tuple] = []
    for rank in range(1, n_merges + 1):
        t0 = _time.perf_counter()
        top = (
            _bpe_pair_counts(syms)
            .orderBy(F.desc("cnt"), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        if not top:
            break
        lhs, rhs, cnt = top[0]["lhs"], top[0]["rhs"], top[0]["cnt"]
        merges.append((rank, lhs, rhs, lhs + rhs, cnt))
        # symbols are lowercase alpha by the filter — safe as literals
        syms = syms.withColumn(
            "sym",
            F.expr(f"replace(sym, ' {lhs}  {rhs} ', ' {lhs}{rhs} ')"),
        )
        # checkpoint lineage every round: k nested replaces over an
        # exploded-and-regrouped base re-run the whole prefix per
        # round's argmax job otherwise
        syms = _ckpt(syms, eager=False)
        if round_walls is not None:
            round_walls.append(round(_time.perf_counter() - t0, 3))
    return merges


def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table, persisted THROUGH the FeatureStore
    (VERDICT r16 #2): the first call per corpus runs text_bpe_learn and
    create_table()s the result under a corpus-fingerprinted name (S5 —
    PK uniqueness enforced on merge_rank); every later call is a
    read_table (S8). A real pipeline trains the tokenizer once and
    ships the merge table as an artifact — text_bpe_apply now reads it
    instead of re-running the learn loop inline.

    Staleness: the fingerprint (mtime+size of documents.parquet, the
    cacheutil convention) is baked into the table NAME, so regenerated
    or swapped corpora miss and retrain; merge tables of dead corpora
    are dropped at create time so the warehouse holds one live table
    per corpus."""
    import os as _os

    from databricks_feature_store_poc_spark.cacheutil import (
        source_fingerprint,
    )
    from databricks_feature_store_poc_spark.featurestore.store import (
        FeatureStore,
    )

    fp = source_fingerprint([_os.path.join(sf_dir, "documents.parquet")])
    name = f"bpe_merges_{fp}"
    fs = FeatureStore(spark)
    if not spark.catalog.tableExists(name):
        for t in spark.catalog.listTables():
            if t.name.startswith("bpe_merges_"):
                fs.drop_table(t.name)
        try:
            fs.create_table(
                name,
                ["merge_rank"],
                text_bpe_learn(spark, sf_dir),
                description=(
                    f"BPE merge table ({BPE_MERGES} merges) learned from "
                    f"{sf_dir}/documents.parquet"
                ),
            )
        except Exception:
            # a concurrent process may have won the create race (the
            # same fingerprint trains the same table); re-read unless
            # the table is genuinely absent
            if not spark.catalog.tableExists(name):
                raise
    return fs.read_table(name)


@query(
    "text_bpe_apply",
    oracle=_bpe_oracle(BPE_MERGES)
    + f"""
    , tok AS (
        SELECT word,
               CAST(len(list_filter(string_split(trim(sym), ' '),
                                    x -> x != '')) AS BIGINT) AS n_tokens
        FROM s{BPE_MERGES}
    ),
    occ AS (
        SELECT doc_id, word
        FROM (SELECT doc_id, unnest({{words}}) AS word FROM documents)
        WHERE regexp_matches(word, '^[a-z]+$')
    ),
    per_doc AS (
        SELECT o.doc_id, CAST(count(*) AS BIGINT) AS n_alpha_words,
               CAST(SUM(t.n_tokens) AS BIGINT) AS n_bpe_tokens
        FROM occ o JOIN tok t USING (word)
        GROUP BY o.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n_alpha_words, 0) AS BIGINT) AS n_alpha_words,
           CAST(coalesce(p.n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
    FROM documents d
    LEFT JOIN per_doc p ON d.doc_id IS NOT DISTINCT FROM p.doc_id
    """.format(words=_DUCK_WORDS),
)
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges to the corpus: per document, the
    alpha-word count and the total BPE token count after BPE_MERGES
    merges — the number a training-data pipeline actually bills by
    (sequence lengths under the tokenizer, not whitespace words).

    Distributed shape: tokenization is computed ONCE PER DISTINCT WORD
    (the learn loop's final symbol table maps word -> n_tokens), then a
    broadcast join onto the corpus occurrences re-aggregates per doc —
    the corpus is never re-tokenized row by row. Docs with no alpha
    words (incl. NULL text) emit zeros via the left join.

    Caveat shared with text_bpe_learn: duplicate doc_ids (dup replica)
    group into one output row per distinct doc_id on both engines (the
    oracle's final LEFT JOIN is against the raw documents table, so
    each duplicate row re-emits its group's totals)."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = bpe_doc_features(spark, sf_dir).withColumnRenamed(
        "doc_id", "p_doc_id"
    )
    return (
        d.select("doc_id")
        .join(
            per_doc, F.col("doc_id").eqNullSafe(F.col("p_doc_id")), "left"
        )
        .select(
            "doc_id",
            F.coalesce("n_alpha_words", F.lit(0)).cast("long").alias(
                "n_alpha_words"
            ),
            F.coalesce("n_bpe_tokens", F.lit(0)).cast("long").alias(
                "n_bpe_tokens"
            ),
        )
    )


def bpe_doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DISTINCT-doc BPE features (doc_id, n_alpha_words,
    n_bpe_tokens): the aggregate half of text_bpe_apply, exposed as a
    feature table for training_set_bpe_features (VERDICT r16 #7).

    Tokenization cost is paid once per distinct WORD (the merge table —
    read from the FeatureStore artifact written by bpe_merge_table — is
    replayed over the vocabulary, never the corpus), then one broadcast
    join onto the corpus occurrences and one per-doc aggregate. Docs
    with no alpha words are absent here; consumers left-join and
    coalesce to zero."""
    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.expr(_WORDS)).alias("word"))
        .filter(F.expr("word rlike '^[a-z]+$'"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    syms = words.select(
        "word",
        "freq",
        F.expr(
            "concat(' ', array_join(transform(sequence(1, length(word)), "
            "i -> substring(word, i, 1)), '  '), ' ')"
        ).alias("sym"),
    )
    # merges come from the FeatureStore-persisted table (VERDICT r16
    # #2) — trained once per corpus, read back here; rank order is the
    # application order, and a table read has no row-order guarantee,
    # so sort explicitly.
    for m in bpe_merge_table(spark, sf_dir).orderBy("merge_rank").collect():
        syms = syms.withColumn(
            "sym",
            F.expr(
                f"replace(sym, ' {m['lhs']}  {m['rhs']} ',"
                f" ' {m['merged']} ')"
            ),
        )
    tok = syms.select(
        "word",
        F.expr(
            "cast(size(filter(split(trim(sym), ' '), x -> x != '')) as long)"
        ).alias("n_tokens"),
    )
    occ = d.select(
        "doc_id", F.explode(F.expr(_WORDS)).alias("word")
    ).filter(F.expr("word rlike '^[a-z]+$'"))
    return (
        occ.join(F.broadcast(tok), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_alpha_words"),
            F.sum("n_tokens").cast("long").alias("n_bpe_tokens"),
        )
    )


# --- Batched (parallel-approximation) BPE learning (VERDICT r16 #2a) --------

BPE_BATCH_ROUNDS = 3
BPE_BATCH_TOPK = 8


def _bpe_batched_oracle(rounds: int, topk: int) -> str:
    """Unrolled DuckDB twin of the batched BPE loop. Round i: pair
    counts from s{i-1}; the top-``topk`` candidates by (cnt DESC, lhs,
    rhs); a candidate is KEPT iff it shares no symbol — lhs, rhs, or
    merged — with ANY higher-ranked candidate (kept or not: the
    window-conflict rule, deterministic and non-iterative); kept merges
    apply sequentially in rank order via a recursive CTE whose depth is
    the data-dependent kept count."""
    parts = [
        """
    w0 AS (
        SELECT word, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest({words}) AS word FROM documents)
        WHERE regexp_matches(word, '^[a-z]+$')
        GROUP BY word
    ),
    s0 AS (
        SELECT word, freq,
               ' ' || array_to_string(
                   [substring(word, i, 1)
                    FOR i IN range(1, len(word) + 1)], '  ') || ' ' AS sym
        FROM w0
    )""".format(words=_DUCK_WORDS)
    ]
    for i in range(1, rounds + 1):
        parts.append(f"""
    p{i} AS (
        SELECT lhs, rhs, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, lhs, rhs) AS rn
        FROM (
            SELECT l AS lhs, r AS rhs, CAST(SUM(freq) AS BIGINT) AS cnt
            FROM (
                SELECT freq,
                       unnest(wl[1:len(wl) - 1]) AS l,
                       unnest(wl[2:len(wl)]) AS r
                FROM (SELECT freq,
                             list_filter(string_split(trim(sym), ' '),
                                         x -> x != '') AS wl
                      FROM s{i - 1})
            )
            GROUP BY l, r
        )
        QUALIFY rn <= {topk}
    ),
    k{i} AS (
        SELECT c.lhs, c.rhs, c.cnt,
               ROW_NUMBER() OVER (ORDER BY c.rn) AS krn
        FROM p{i} c
        WHERE NOT EXISTS (
            SELECT 1 FROM p{i} h
            WHERE h.rn < c.rn AND (
                h.lhs IN (c.lhs, c.rhs, c.lhs || c.rhs) OR
                h.rhs IN (c.lhs, c.rhs, c.lhs || c.rhs) OR
                h.lhs || h.rhs IN (c.lhs, c.rhs, c.lhs || c.rhs))
        )
    ),
    a{i}(word, freq, sym, j) AS (
        SELECT word, freq, sym, 0 FROM s{i - 1}
        UNION ALL
        SELECT a.word, a.freq,
               replace(a.sym, ' ' || k.lhs || '  ' || k.rhs || ' ',
                       ' ' || k.lhs || k.rhs || ' '),
               a.j + 1
        FROM a{i} a JOIN k{i} k ON k.krn = a.j + 1
    ),
    s{i} AS (
        SELECT word, freq, sym FROM a{i}
        WHERE j = (SELECT count(*) FROM k{i})
    )""")
    offsets = {
        i: " + ".join([f"(SELECT count(*) FROM k{j})" for j in range(1, i)])
        or "0"
        for i in range(1, rounds + 1)
    }
    final = " UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS round,"
        f" CAST({offsets[i]} + krn AS INT) AS merge_rank,"
        f" lhs, rhs, lhs || rhs AS merged, cnt AS pair_count FROM k{i}"
        for i in range(1, rounds + 1)
    )
    return "WITH RECURSIVE " + ",".join(parts) + "\n    " + final


@query(
    "text_bpe_learn_batched",
    oracle=_bpe_batched_oracle(BPE_BATCH_ROUNDS, BPE_BATCH_TOPK),
)
def text_bpe_learn_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE learning with BATCHED merge rounds — the standard
    parallel-BPE approximation (VERDICT r16 #2a) that removes the
    one-Spark-job-per-merge driver bottleneck of text_bpe_learn: a real
    32k-merge tokenizer is 32k sequential argmax jobs under strict
    Sennrich order, but per round the top-k pair candidates are almost
    always pairwise-independent, so each round commits a WINDOW of
    non-conflicting merges from ONE distributed count.

    Per round: one vocabulary-sized pair count (identical shape to the
    exact learner), ONE constant-size top-K collect, then the
    window-conflict rule — candidate i is kept iff it shares no symbol
    (lhs, rhs, OR the merged token: a merge that MINTS another
    candidate's operand would make application order observable) with
    any HIGHER-ranKED candidate, kept or discarded. Checking against
    all higher candidates rather than kept-only is deliberately more
    conservative than greedy chaining: it needs no iteration, is
    expressible in one SQL window, and keeps Spark and the oracle
    trivially in lockstep. Kept merges commute (disjoint symbols,
    no minted-operand overlap), so applying them in rank order inside
    one map-only rewrite equals any order.

    DEVIATION from strict Sennrich order (documented per the VERDICT):
    merges 2..k of a round are chosen by counts measured BEFORE merges
    1..i-1 of the same round applied; when a window's pairs interact
    through shared words the learned table can differ from the exact
    learner's. The oracle adjudicates the BATCHED semantics exactly —
    round structure, window conflicts, tie-breaks, and counts are all
    hash-checked.

    Scale: BPE_BATCH_ROUNDS distributed passes commit up to
    BPE_BATCH_TOPK merges each — a 32k-merge vocabulary needs ~32k/k
    rounds instead of 32k jobs, and each round stays one
    vocabulary-sized aggregate + one O(k) collect + one map-only
    rewrite (localCheckpoint per round caps lineage), the measured
    fix for the wall-per-merge curve in scripts/probe_bpe_merges.json."""
    syms = _bpe_sym_table(spark, sf_dir)
    out: list[tuple] = []
    for rnd in range(1, BPE_BATCH_ROUNDS + 1):
        top = (
            _bpe_pair_counts(syms)
            .orderBy(F.desc("cnt"), "lhs", "rhs")
            .limit(BPE_BATCH_TOPK)
            .collect()
        )
        kept = []
        for idx, c in enumerate(top):
            c_syms = {c["lhs"], c["rhs"], c["lhs"] + c["rhs"]}
            if all(
                c_syms.isdisjoint({h["lhs"], h["rhs"], h["lhs"] + h["rhs"]})
                for h in top[:idx]
            ):
                kept.append(c)
        for c in kept:
            out.append(
                (rnd, len(out) + 1, c["lhs"], c["rhs"],
                 c["lhs"] + c["rhs"], c["cnt"])
            )
            syms = syms.withColumn(
                "sym",
                F.expr(
                    f"replace(sym, ' {c['lhs']}  {c['rhs']} ',"
                    f" ' {c['lhs']}{c['rhs']} ')"
                ),
            )
        syms = _ckpt(syms, eager=False)
    schema = (
        "round int, merge_rank int, lhs string, rhs string,"
        " merged string, pair_count long"
    )
    return spark.createDataFrame(out, schema)
