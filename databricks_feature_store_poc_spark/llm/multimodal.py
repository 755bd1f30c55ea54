"""Multimodal column operators (north-star, SURVEY §2/M5).

The engine's multimodal contract: media payloads are opaque ``binary``
columns with typed metadata alongside; embeddings are
``array<float>`` columns. The module holds:

- ``mm_embedding_norm`` / ``mm_binary_meta`` — JVM-only vector hygiene
  and typed-binary metadata.
- ``mm_decode_stub`` / ``mm_frame_sample`` — the decode plumbing with a
  deterministic fake decoder (code points, so DuckDB can replicate it).
- Eight REAL byte-level codecs, each an encode stage (document ->
  genuine file bytes) and a general decode stage: PPM, BMP, WAV, PNG,
  GIF and three JPEG contracts (baseline grayscale, baseline color,
  progressive) served by ONE JFIF reader (``_make_jpeg_reader``) and
  ONE JFIF writer (``_jfif_writer``).
- dHash image fingerprints and the image dedup / Hamming top-k queries
  built on them.

Every codec stage is one ``_row_kernel``: a per-row function wrapped in
an Arrow-batched mapInPandas kernel whose schema and pandas dtypes come
from a single column list. Kernels are closures, so cloudpickle ships
them BY VALUE — executors never import this repo.

Scale: per-row media decode is embarrassingly parallel; the design rule
is to keep payloads OUT of shuffles (decode-then-project before any join;
never groupBy a binary column) and bound Arrow batch memory with
spark.sql.execution.arrow.maxRecordsPerBatch when payloads are large.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from databricks_feature_store_poc_spark.registry import query
from databricks_feature_store_poc_spark.sources.catalog import load_table


_INT, _LONG, _BOOL = T.IntegerType(), T.LongType(), T.BooleanType()
_PAYLOAD = [("payload", T.BinaryType())]  # every codec's encode output
_PANDAS_DTYPES = {"integer": "Int32", "long": "Int64", "boolean": "boolean"}


def _row_kernel(fn, columns, source="payload"):
    """One mapInPandas kernel for the codec family: ``fn`` maps one
    ``source`` cell to the row's output values (a tuple, or a bare value
    when there is one column) and the kernel emits ``doc_id`` plus
    ``columns``, a list of (name, Spark type). A NULL cell yields an
    all-NULL row without calling ``fn`` (the mm-family diagnostic-row
    contract: a decoder cannot invent pixels).

    Returns (kernel, schema), ready for ``df.mapInPandas(*...)``. Both
    the StructType and the pandas nullable dtypes (Int32/Int64/boolean,
    so NULLs survive Arrow) derive from the one column list. The kernel
    is a closure, so cloudpickle serializes it BY VALUE — executors
    never import this repo — provided ``fn`` is a closure too, never a
    module-level function."""
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType())]
        + [T.StructField(name, typ) for name, typ in columns]
    )
    names = [name for name, _ in columns]
    dtypes = [_PANDAS_DTYPES.get(typ.typeName()) for _, typ in columns]
    single = len(columns) == 1
    null_row = (None,) * len(columns)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                null_row if x is None else (fn(x),) if single else fn(x)
                for x in pdf[source]
            ]
            out = {"doc_id": pdf["doc_id"].values}
            for i, (name, dtype) in enumerate(zip(names, dtypes)):
                col = [r[i] for r in rows]
                out[name] = pd.array(col, dtype=dtype) if dtype else col
            yield pd.DataFrame(out)

    return kernel, schema


@query(
    "mm_embedding_norm",
    oracle="""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    nn AS (
        -- list_sum(list_transform(..)) instead of list_dot_product:
        -- the latter ERRORS on NULL lists in DuckDB's vectorized path
        -- (uncatchable by CASE/coalesce), while list_transform folds
        -- NULL -> NULL scalar-safely. The r11 workaround (dot on the
        -- non-NULL subset LEFT JOINed back by vec_id) fanned out under
        -- duplicate vec_ids (r12 dup replica) — inline, nothing joins.
        -- The CASE pins Spark's fold-from-0D on an empty list (0.0)
        -- vs DuckDB's list_sum([]) = NULL.
        SELECT vec_id, e,
               CASE WHEN e IS NULL THEN NULL
                    ELSE coalesce(list_sum(list_transform(e, x -> x * x)),
                                  0.0)
               END AS dot
        FROM v
    )
    SELECT vec_id,
           CAST(len(e) AS INT) AS dim,
           round(sqrt(dot), 6) AS l2_norm,
           round(e[1] / nullif(sqrt(dot), 0), 6) AS first_normalized,
           round(list_aggregate(e, 'sum') / nullif(len(e), 0), 6)
               AS mean_elem
    FROM nn
    """,
)
def mm_embedding_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm / unit-normalization / mean over the embedding column —
    the vector hygiene ops every similarity pipeline runs first. All
    higher-order-function folds over the 64 lanes, JVM-side.

    Contract (r11 adversarial hardening): this is the DIAGNOSTIC op — it
    keeps every row (unlike the sim family, which excludes degenerate
    vectors) and reports NULL where a metric is undefined: NULL vector ->
    all metrics NULL; zero-norm vector -> l2_norm 0, first_normalized
    NULL (0/0 pinned as NULL via nullif on both engines, never an ANSI
    divide-by-zero error); empty vector -> mean_elem NULL."""
    e = load_table(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("e")
    )
    dot = "aggregate(zip_with(e, e, (x, y) -> x * y), 0D, (s, x) -> s + x)"
    ssum = "aggregate(e, 0D, (s, x) -> s + x)"
    return v.select(
        "vec_id",
        F.when(F.col("e").isNotNull(), F.size("e")).alias("dim"),
        F.round(F.sqrt(F.expr(dot)), 6).alias("l2_norm"),
        F.round(
            F.expr(f"try_element_at(e, 1) / nullif(sqrt({dot}), 0D)"), 6
        ).alias("first_normalized"),
        F.round(
            F.expr(f"{ssum} / nullif(cast(size(e) as double), 0D)"), 6
        ).alias("mean_elem"),
    )


@query(
    "mm_binary_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS payload_md5,
           'application/octet-stream' AS content_type
    FROM documents
    """,
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-binary column pattern: build a binary payload column (UTF-8
    bytes of text stand in for a media blob), extract byte length + md5 +
    content-type metadata. The payload column is projected away before
    any wide operation — binary never crosses a shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("payload", F.encode("text", "UTF-8"))
        .select(
            "doc_id",
            F.length("payload").cast("long").alias("n_bytes"),
            F.md5("payload").alias("payload_md5"),
            F.lit("application/octet-stream").alias("content_type"),
        )
    )


@query(
    "mm_decode_stub",
    oracle="""
    WITH chars AS (
        SELECT doc_id, string_split(text, '') AS cs,
               length(text) AS n, greatest(length(text), 1) AS tot,
               text IS NULL AS is_null
        FROM documents
    )
    SELECT doc_id,
           CAST(CASE WHEN is_null THEN NULL
                     WHEN n = 0 THEN 16
                     ELSE 16 + ascii(cs[1]) % 64 END AS INT) AS width,
           CAST(CASE WHEN is_null THEN NULL
                     WHEN n = 0 THEN 16
                     ELSE 16 + ascii(cs[n]) % 64 END AS INT) AS height,
           CASE WHEN is_null THEN NULL ELSE concat_ws(',',
               printf('%.6f', len(list_filter(cs,
                   c -> c != '' AND (ascii(c) // 64) % 4 = 0)) * 1.0 / tot),
               printf('%.6f', len(list_filter(cs,
                   c -> c != '' AND (ascii(c) // 64) % 4 = 1)) * 1.0 / tot),
               printf('%.6f', len(list_filter(cs,
                   c -> c != '' AND (ascii(c) // 64) % 4 = 2)) * 1.0 / tot),
               printf('%.6f', len(list_filter(cs,
                   c -> c != '' AND (ascii(c) // 64) % 4 = 3)) * 1.0 / tot)
           ) END AS byte_hist
    FROM chars
    """,
)
def mm_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract plumbing over a binary media column.

    Deterministic fake decode: 'image' dimensions derived from the
    payload's first/last code point + length, a 4-bin code-point
    histogram as the 'feature vector'. The fake decode reads CODE POINTS
    (like mm_frame_sample) rather than raw UTF-8 bytes so DuckDB can
    replicate it exactly on non-ASCII text — per-byte BLOB arithmetic is
    not SQL-expressible cross-engine, per-codepoint is (r11: the
    adversarial replica's unicode/CRLF documents diverged the old
    byte-based kernel). Histogram bins are (cp // 64) % 4 so any code
    point maps to a bin. Every piece of Spark machinery is
    production-real: Arrow-batched mapInPandas, explicit output schema,
    per-partition parallelism, and the binary payload column CROSSES the
    Arrow boundary alongside the text (proving binary plumbing) — only
    the codec call is fake; the real codecs below (PPM through JPEG) run
    in the same ``_row_kernel`` shape.

    Contract (r11): a NULL payload decodes to NULL width/height/hist —
    a decoder cannot invent pixels; the row is kept so downstream sees
    the failure, mirroring mm_embedding_norm's diagnostic shape."""

    def fake_decode(text) -> tuple:
        n = len(text)
        width = 16 + ord(text[0]) % 64 if n else 16
        height = 16 + ord(text[-1]) % 64 if n else 16
        hist = [0, 0, 0, 0]
        for ch in text:
            hist[(ord(ch) // 64) % 4] += 1
        tot = max(n, 1)
        return width, height, ",".join(f"{h / tot:.6f}" for h in hist)

    # byte_hist is emitted as a canonical comma-joined string (6-decimal
    # %.6f on the identical IEEE double both engines compute) instead of
    # array<double>: the driver's pandas sort-canonicalizer cannot hash
    # ndarray cells. Same treatment as agg_collect_set. A real deployment
    # would keep the array column; the canonicalization is an oracle
    # contract, not an engine limitation (mm_embedding_norm keeps real
    # arrays in-plan).
    d = load_table(spark, sf_dir, "documents")
    payloads = d.select(
        "doc_id", "text", F.encode("text", "UTF-8").alias("payload")
    )
    return payloads.mapInPandas(*_row_kernel(
        fake_decode,
        [("width", _INT), ("height", _INT), ("byte_hist", T.StringType())],
        source="text",
    ))


@query(
    "mm_frame_sample",
    oracle="""
    WITH base AS (
        SELECT doc_id, text,
               greatest(length(text) // 64, 1) AS n_frames
        FROM documents WHERE text IS NOT NULL
    ),
    frames AS (
        SELECT doc_id, text,
               UNNEST([i FOR i IN range(0, CAST(n_frames AS BIGINT), 4)
                       IF i < 32]) AS frame_idx
        FROM base
    )
    SELECT doc_id,
           CAST(frame_idx AS INT) AS frame_idx,
           CAST(frame_idx * 64 AS INT) AS char_offset,
           CAST(COALESCE(list_sum(
                    [unicode(c) FOR c IN
                     string_split(substring(text, frame_idx * 64 + 1, 64), '')
                     IF c != '']
                ), 0) % 65536 AS INT) AS frame_checksum
    FROM frames
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing for video/audio payloads: each payload
    expands to every-k-th 'frame' (fixed-size chunk here; a real codec
    yields decoded frames) with per-frame features.

    1 payload row -> n frame rows through mapInPandas — the same
    fan-out shape as a video decoder emitting sampled frames, and the
    reason this is a table function, not a scalar UDF. Frame count is
    bounded per payload (MAX_FRAMES) so one pathological input can't
    blow up a task; real deployments also cap decode wall-time.

    The fake decoder chunks by CHARACTER (code points, checksum = sum of
    code points mod 2^16) rather than raw bytes so DuckDB can replicate it
    exactly — substring/unicode are cross-engine contracts where per-byte
    BLOB arithmetic is not — turning this from a rows-only entry into a
    hash-checked oracle while keeping the decode plumbing identical.
    (DuckDB's string_split('','') yields [''] — the oracle's comprehension
    filters the empty string so an empty document checksums to 0 on both
    engines, matching Python's sum over an empty chunk.)

    Contract (r11): NULL-text documents emit no frames — a decoder
    cannot sample a payload that isn't there; both engines filter them
    (kernel skips, oracle WHERE text IS NOT NULL)."""
    CHUNK = 64          # characters per fake 'frame'
    STRIDE = 4          # sample every 4th frame
    MAX_FRAMES = 8

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids, frame_idx, offsets, checksums = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["text"]):
                if payload is None:
                    continue
                n_frames = max(len(payload) // CHUNK, 1)
                taken = 0
                for i in range(0, n_frames, STRIDE):
                    if taken >= MAX_FRAMES:
                        break
                    chunk = payload[i * CHUNK:(i + 1) * CHUNK]
                    doc_ids.append(doc_id)
                    frame_idx.append(i)
                    offsets.append(i * CHUNK)
                    checksums.append(sum(ord(c) for c in chunk) % 65536)
                    taken += 1
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "frame_idx": frame_idx,
                    "char_offset": offsets,
                    "frame_checksum": checksums,
                }
            )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("char_offset", T.IntegerType()),
            T.StructField("frame_checksum", T.IntegerType()),
        ]
    )
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", "text").mapInPandas(sample_batches, schema)


@query(
    "mm_decode_ppm",
    oracle="""
    WITH b AS (
        SELECT doc_id, text IS NULL AS is_null,
               octet_length(encode(coalesce(text, ''))) AS n,
               hex(encode(coalesce(text, ''))) AS hx
        FROM documents
    ),
    dims AS (
        SELECT doc_id, is_null, n, hx,
               8 + n % 8 AS w, 8 + (n // 8) % 8 AS h
        FROM b
    ),
    sums AS (
        SELECT doc_id, is_null, w, h, n, w * h * 3 AS l,
               COALESCE(list_sum([
                   16 * (strpos('0123456789ABCDEF',
                                substring(hx, 2 * i - 1, 1)) - 1)
                      + (strpos('0123456789ABCDEF',
                                substring(hx, 2 * i, 1)) - 1)
                   FOR i IN range(1, CAST(least(n, w * h * 3) AS BIGINT) + 1)
               ]), 0) AS px_sum
        FROM dims
    )
    SELECT doc_id,
           CAST(CASE WHEN is_null THEN NULL ELSE w END AS INT) AS width,
           CAST(CASE WHEN is_null THEN NULL ELSE h END AS INT) AS height,
           CAST(CASE WHEN is_null THEN NULL ELSE
                3 + length(CAST(w AS VARCHAR)) + 1
                  + length(CAST(h AS VARCHAR)) + 5 + l
           END AS BIGINT) AS n_payload_bytes,
           CAST(CASE WHEN is_null THEN NULL ELSE px_sum % 65536
           END AS INT) AS pixel_checksum
    FROM sums
    """,
)
def mm_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL byte-level decode over a synthesized P6 PPM corpus
    (VERDICT r12 'do this' #7 — the stretch past mm_decode_stub's
    codepoint fake): stage 1 ENCODES each document into an actual
    binary PPM image (``P6\\n{w} {h}\\n255\\n`` header + w*h*3 pixel
    bytes = the document's UTF-8 bytes truncated/zero-padded), stage 2
    DECODES by parsing the header OUT OF THE PAYLOAD BYTES with
    stdlib-only code — regex over the first bytes, exactly what a real
    PPM reader does — and checksums the pixel section. width/height in
    the output come from the PARSED HEADER, the oracle derives them
    independently from the byte-length formula, so a one-byte encoder/
    decoder disagreement goes hash-red (round-trip verification, not a
    shared shortcut).

    The oracle replicates the pixel checksum without BLOB folds (DuckDB
    has none) by summing hex-pair digits of ``hex(encode(text))`` —
    per-BYTE, so multi-byte UTF-8 is exact, where the r11 codepoint
    compromise (mm_decode_stub) deliberately stopped short. Zero
    padding contributes 0, so the oracle sums only the first
    min(n, w*h*3) real bytes.

    Scale shape: two Arrow-batched mapInPandas stages over a single
    documents scan, no shuffle anywhere; payloads stay inside one task
    (decode-then-project, binary never crosses an exchange). NULL text
    -> NULL metrics (the diagnostic-row contract shared by the mm
    family)."""
    import re

    def to_ppm(text) -> bytes:
        tb = text.encode("utf-8")
        n = len(tb)
        w, h = 8 + n % 8, 8 + (n // 8) % 8
        length = w * h * 3
        pixels = tb[:length].ljust(length, b"\x00")
        return b"P6\n%d %d\n255\n" % (w, h) + pixels

    _HDR = re.compile(rb"^P6\n(\d+) (\d+)\n255\n")

    def parse(payload) -> tuple:
        m = _HDR.match(payload)
        if not m:  # not a PPM this decoder understands
            return None, None, len(payload), None
        w, h = int(m.group(1)), int(m.group(2))
        pixels = payload[m.end():]
        return w, h, len(payload), sum(pixels) % 65536

    d = load_table(spark, sf_dir, "documents")
    staged = d.select("doc_id", "text").mapInPandas(
        *_row_kernel(to_ppm, _PAYLOAD, source="text")
    )
    return staged.mapInPandas(*_row_kernel(parse, [
        ("width", _INT), ("height", _INT), ("n_payload_bytes", _LONG),
        ("pixel_checksum", _INT),
    ]))


@query(
    "mm_decode_bmp",
    oracle="""
    WITH b AS (
        SELECT doc_id, text IS NULL AS is_null,
               octet_length(encode(coalesce(text, ''))) AS n,
               hex(encode(coalesce(text, ''))) AS hx
        FROM documents
    ),
    dims AS (
        SELECT doc_id, is_null, n, hx,
               5 + n % 7 AS w, 4 + (n // 7) % 6 AS h
        FROM b
    ),
    sums AS (
        SELECT doc_id, is_null, w, h,
               ((w * 3 + 3) // 4) * 4 AS stride,
               COALESCE(list_sum([
                   i * (16 * (strpos('0123456789ABCDEF',
                                     substring(hx, 2 * i - 1, 1)) - 1)
                          + (strpos('0123456789ABCDEF',
                                    substring(hx, 2 * i, 1)) - 1))
                   FOR i IN range(1, CAST(least(n, w * h * 3) AS BIGINT) + 1)
               ]), 0) AS wsum
        FROM dims
    )
    SELECT doc_id,
           CAST(CASE WHEN is_null THEN NULL ELSE w END AS INT) AS width,
           CAST(CASE WHEN is_null THEN NULL ELSE h END AS INT) AS height,
           CAST(CASE WHEN is_null THEN NULL ELSE stride
           END AS INT) AS row_stride,
           CAST(CASE WHEN is_null THEN NULL ELSE 54 + stride * h
           END AS BIGINT) AS n_file_bytes,
           CASE WHEN is_null THEN NULL ELSE TRUE END AS header_consistent,
           CAST(CASE WHEN is_null THEN NULL ELSE wsum % 65536
           END AS INT) AS pixel_checksum_weighted
    FROM sums
    """,
)
def mm_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second REAL byte-level codec (VERDICT r13 #7, pairing
    mm_decode_ppm): stage 1 ENCODES each document as an actual BMP file
    (BITMAPFILEHEADER + BITMAPINFOHEADER, BI_RGB 24bpp) — little-endian
    struct fields, 4-byte-padded rows stored BOTTOM-UP, exactly the
    on-disk format — and stage 2 DECODES it with stdlib struct.unpack,
    re-assembling the logical top-down pixel stream by walking the rows
    in reverse and stripping the padding.

    Where PPM exercised an ASCII header, BMP exercises the three things
    PPM could not: binary little-endian header fields, row padding, and
    row order. The checksum is POSITION-WEIGHTED (sum of i * byte_i
    over the logical stream, 1-based, mod 2^16), so a decoder that
    mis-orders rows or fails to strip padding goes hash-red — an
    unweighted sum would be blind to both (padding and zero-fill bytes
    contribute 0 at any position, so the oracle reproduces the weighted
    sum from the first min(n, 3wh) real text bytes alone).

    ``header_consistent`` is the decoder's own cross-check of the
    redundant header fields (file size field vs actual byte length,
    pixel offset, DIB size, bpp, compression, image size vs stride*h) —
    a real BMP reader's sanity pass.

    Scale shape: identical to mm_decode_ppm — two Arrow-batched
    mapInPandas stages over one documents scan, payloads never cross an
    exchange, NULL text -> NULL metrics."""
    import struct

    def to_bmp(text) -> bytes:
        tb = text.encode("utf-8")
        n = len(tb)
        w, h = 5 + n % 7, 4 + (n // 7) % 6
        row = w * 3
        stride = (row + 3) // 4 * 4
        logical = tb[: w * h * 3].ljust(w * h * 3, b"\x00")
        body = b"".join(
            logical[r * row:(r + 1) * row].ljust(stride, b"\x00")
            for r in reversed(range(h))
        )
        img_size = stride * h
        hdr = b"BM" + struct.pack("<IHHI", 54 + img_size, 0, 0, 54)
        dib = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
        )
        return hdr + dib + body

    def parse(payload) -> tuple:
        if len(payload) < 54 or payload[:2] != b"BM":
            return None, None, None, len(payload), False, None
        file_size, _, _, off = struct.unpack_from("<IHHI", payload, 2)
        hdr_sz, w, h, _, bpp, comp, img_size = struct.unpack_from(
            "<IiiHHII", payload, 14
        )
        stride = (w * 3 + 3) // 4 * 4
        consistent = (
            file_size == len(payload)
            and off == 54
            and hdr_sz == 40
            and bpp == 24
            and comp == 0
            and img_size == stride * h
            and len(payload) == 54 + stride * h
        )
        wsum, idx = 0, 0
        for r in range(h):  # logical top-down; stored bottom-up
            start = off + (h - 1 - r) * stride
            for byte in payload[start:start + w * 3]:
                idx += 1
                wsum += idx * byte
        return w, h, stride, len(payload), consistent, wsum % 65536

    d = load_table(spark, sf_dir, "documents")
    staged = d.select("doc_id", "text").mapInPandas(
        *_row_kernel(to_bmp, _PAYLOAD, source="text")
    )
    return staged.mapInPandas(*_row_kernel(parse, [
        ("width", _INT), ("height", _INT), ("row_stride", _INT),
        ("n_file_bytes", _LONG), ("header_consistent", _BOOL),
        ("pixel_checksum_weighted", _INT),
    ]))


@query(
    "mm_decode_wav",
    oracle="""
    WITH b AS (
        SELECT doc_id, text IS NULL AS is_null,
               octet_length(encode(coalesce(text, ''))) AS n,
               hex(encode(coalesce(text, ''))) AS hx
        FROM documents
    ),
    samples AS (
        SELECT doc_id, is_null, n,
               [
                   (16 * (strpos('0123456789ABCDEF',
                                 substring(hx, 4 * i - 3, 1)) - 1)
                       + (strpos('0123456789ABCDEF',
                                 substring(hx, 4 * i - 2, 1)) - 1))
                   + 256 * (CASE WHEN 2 * i <= n THEN
                       16 * (strpos('0123456789ABCDEF',
                                    substring(hx, 4 * i - 1, 1)) - 1)
                          + (strpos('0123456789ABCDEF',
                                    substring(hx, 4 * i, 1)) - 1)
                     ELSE 0 END)
                   FOR i IN range(1, CAST((n + 1) // 2 AS BIGINT) + 1)
               ] AS su
        FROM b
    ),
    signed AS (
        SELECT doc_id, is_null, n,
               list_transform(su,
                   u -> u - CASE WHEN u >= 32768 THEN 65536 ELSE 0 END
               ) AS sv
        FROM samples
    )
    SELECT doc_id,
           CAST(CASE WHEN is_null THEN NULL
                ELSE 8000 + (n % 5) * 2000 END AS INT) AS sample_rate,
           CAST(CASE WHEN is_null THEN NULL
                ELSE (n + 1) // 2 END AS BIGINT) AS n_samples,
           CAST(CASE WHEN is_null THEN NULL
                ELSE 52 + (3 + n % 6) + (3 + n % 6) % 2 + n + n % 2
           END AS BIGINT) AS n_file_bytes,
           CASE WHEN is_null THEN NULL ELSE TRUE END AS header_consistent,
           CAST(CASE WHEN is_null THEN NULL
                ELSE COALESCE(list_sum(sv), 0) END AS BIGINT) AS sample_sum,
           CAST(CASE WHEN is_null THEN NULL
                ELSE list_max(list_transform(sv, x -> abs(x)))
           END AS INT) AS peak_abs
    FROM signed
    """,
)
def mm_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third REAL byte-level codec (completing the PPM/BMP family with
    audio): stage 1 ENCODES each document as an actual RIFF/WAVE PCM
    file — canonical 16-byte ``fmt `` chunk (PCM, mono, 16-bit), a
    deliberately-interposed LIST metadata chunk of varying (often ODD)
    length, then the ``data`` chunk whose payload is the document's
    UTF-8 bytes packed as little-endian SIGNED 16-bit samples — and
    stage 2 DECODES it with a real chunk WALK (stdlib struct only).

    This exercises the three defect classes PPM and BMP cannot:
    (1) chunk walking — the decoder must skip the unknown LIST chunk by
    its declared size to find ``data`` (a reader that assumes a fixed
    44-byte layout reads LIST garbage as audio and goes hash-red on
    sample_sum/peak_abs); (2) the RIFF odd-size pad byte — LIST length
    is ``3 + n % 6``, odd half the time, so a walker that forgets
    word-alignment lands mid-chunk; (3) SIGNED sample decode — byte
    pairs with a high bit in the second byte must come out negative
    (``sample_sum`` is the exact signed integer sum; an unsigned reader
    inflates it by 65536 per negative sample).

    The oracle re-derives every output from hex pairs of the raw text
    bytes: sample u = b(2i-1) + 256*b(2i) (missing odd-tail high byte
    = 0, exactly the encoder's zero pad), two's-complement fold, exact
    BIGINT sum and peak; file size from the chunk-layout formula
    (52 fixed + LIST + its pad + data). ``header_consistent`` is the
    decoder's own cross-check (RIFF size field vs actual length, PCM
    tag, mono, 16-bit, block_align, byte_rate = rate*2, even data
    size). Empty text -> 0 samples, sum 0, peak NULL; NULL text -> all
    NULL (the mm-family diagnostic-row contract).

    Scale shape: identical to mm_decode_ppm/bmp — two Arrow-batched
    mapInPandas stages over one documents scan, payloads never cross an
    exchange, no shuffle anywhere."""
    import struct

    def to_wav(text) -> bytes:
        tb = text.encode("utf-8")
        n = len(tb)
        rate = 8000 + (n % 5) * 2000
        data = tb + (b"\x00" if n % 2 else b"")
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        jl = 3 + n % 6
        junk = b"\xa5" * jl + (b"\x00" if jl % 2 else b"")
        riff_size = 4 + 8 + len(fmt) + 8 + len(junk) + 8 + len(data)
        return (
            b"RIFF" + struct.pack("<I", riff_size) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"LIST" + struct.pack("<I", jl) + junk
            + b"data" + struct.pack("<I", len(data)) + data
        )

    def parse(payload) -> tuple:
        if len(payload) < 12 or payload[:4] != b"RIFF" \
                or payload[8:12] != b"WAVE":
            return None, None, len(payload), False, None, None
        (riff_size,) = struct.unpack_from("<I", payload, 4)
        fmt_fields, data = None, None
        off = 12
        while off + 8 <= len(payload):  # the chunk walk
            cid = payload[off:off + 4]
            (size,) = struct.unpack_from("<I", payload, off + 4)
            body = payload[off + 8:off + 8 + size]
            if cid == b"fmt " and size >= 16:
                fmt_fields = struct.unpack_from("<HHIIHH", body, 0)
            elif cid == b"data":
                data = body
            off += 8 + size + size % 2  # RIFF word-alignment pad
        if fmt_fields is None or data is None:
            return None, None, len(payload), False, None, None
        tag, ch, rate, byte_rate, block_align, bits = fmt_fields
        consistent = (
            riff_size == len(payload) - 8
            and tag == 1 and ch == 1 and bits == 16
            and block_align == 2 and byte_rate == rate * 2
            and len(data) % 2 == 0
        )
        sv = struct.unpack("<%dh" % (len(data) // 2), data)
        return (
            rate,
            len(sv),
            len(payload),
            consistent,
            sum(sv),
            max((abs(x) for x in sv), default=None),
        )

    d = load_table(spark, sf_dir, "documents")
    staged = d.select("doc_id", "text").mapInPandas(
        *_row_kernel(to_wav, _PAYLOAD, source="text")
    )
    return staged.mapInPandas(*_row_kernel(parse, [
        ("sample_rate", _INT), ("n_samples", _LONG), ("n_file_bytes", _LONG),
        ("header_consistent", _BOOL), ("sample_sum", _LONG),
        ("peak_abs", _INT),
    ]))


def _png_paeth():
    """Factory for the PNG Paeth predictor shared by mm_decode_png's
    encoder and decoder, returned as a closure so both kernels pickle
    it by value: the one of left (a), up (b) and up-left (c) closest to
    a + b - c, ties in that order."""

    def paeth(a: int, b: int, c: int) -> int:
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    return paeth


def _make_png_decoder():
    """Factory for mm_decode_png's decode stage, returning
    ``_row_kernel``'s (kernel, schema). The kernel is a CLOSURE (not a
    module-level function) so cloudpickle serializes it BY VALUE — the
    driver contract runs executors whose PYTHONPATH may not include
    this repo, so executor-side kernels must never be pickled by module
    reference (the codec-family convention). Module-level factory so
    tests can drive the exact kernel with FOREIGN payloads (level-9
    zlib, split IDATs, arbitrary filter plans) that the engine's own
    level-0 single-IDAT encoder never emits."""
    import struct
    import zlib

    paeth = _png_paeth()

    def parse(payload) -> tuple:
        bad = (None, None, len(payload), None, False, None)
        if len(payload) < 8 or bytes(payload[:8]) != b"\x89PNG\r\n\x1a\n":
            return bad
        payload = bytes(payload)
        off, chunks, crc_ok = 8, [], True
        while off + 12 <= len(payload):
            (ln,) = struct.unpack_from(">I", payload, off)
            if off + 12 + ln > len(payload):
                # truncated/forged length field: the CRC word would sit
                # past the buffer (ADVICE r15 #2) — diagnostic row, no
                # struct.error crash
                return bad
            typ = payload[off + 4:off + 8]
            data = payload[off + 8:off + 8 + ln]
            (crc,) = struct.unpack_from(">I", payload, off + 8 + ln)
            if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
                crc_ok = False
            chunks.append((typ, data))
            off += 12 + ln
            if typ == b"IEND":
                break
        if not chunks or chunks[0][0] != b"IHDR" \
                or len(chunks[0][1]) != 13:
            return bad
        w, h, depth, ctype, comp, filt, inter = struct.unpack(
            ">IIBBBBB", chunks[0][1]
        )
        idat = b"".join(d for t, d in chunks if t == b"IDAT")
        try:
            stream = zlib.decompress(idat)  # inflate + adler32 check
        except zlib.error:
            return bad
        row = w * 3
        consistent = (
            crc_ok
            and off == len(payload)
            and chunks[-1][0] == b"IEND" and chunks[-1][1] == b""
            and depth == 8 and ctype == 2
            and comp == 0 and filt == 0 and inter == 0
            and len(stream) == h * (1 + row)
        )
        if len(stream) != h * (1 + row):
            return bad
        prior = bytes(row)
        wsum, idx = 0, 0
        seen = set()
        for r in range(h):
            ft = stream[r * (1 + row)]
            seen.add(ft)
            f = stream[r * (1 + row) + 1:(r + 1) * (1 + row)]
            recon = bytearray(row)
            for i in range(row):
                left = recon[i - 3] if i >= 3 else 0
                if ft == 0:
                    x = f[i]
                elif ft == 1:
                    x = f[i] + left
                elif ft == 2:
                    x = f[i] + prior[i]
                elif ft == 3:
                    x = f[i] + ((left + prior[i]) >> 1)
                elif ft == 4:
                    x = f[i] + paeth(
                        left, prior[i], prior[i - 3] if i >= 3 else 0
                    )
                else:
                    return bad
                recon[i] = x & 0xFF
            for byte in recon:
                idx += 1
                wsum += idx * byte
            prior = bytes(recon)
        return (
            w, h, len(payload), len(seen),
            bool(consistent) if consistent is not None else None,
            wsum % 65536,
        )

    return _row_kernel(parse, [
        ("width", _INT), ("height", _INT), ("n_file_bytes", _LONG),
        ("filters_used", _INT), ("header_consistent", _BOOL),
        ("pixel_checksum_weighted", _INT),
    ])


@query(
    "mm_decode_png",
    oracle="""
    WITH b AS (
        SELECT doc_id, text IS NULL AS is_null,
               octet_length(encode(coalesce(text, ''))) AS n,
               hex(encode(coalesce(text, ''))) AS hx
        FROM documents
    ),
    dims AS (
        SELECT doc_id, is_null, n, hx,
               4 + n % 8 AS w, 3 + (n // 5) % 7 AS h
        FROM b
    ),
    sums AS (
        SELECT doc_id, is_null, w, h,
               h * (1 + 3 * w) AS m,
               COALESCE(list_sum([
                   i * (16 * (strpos('0123456789ABCDEF',
                                     substring(hx, 2 * i - 1, 1)) - 1)
                          + (strpos('0123456789ABCDEF',
                                    substring(hx, 2 * i, 1)) - 1))
                   FOR i IN range(1, CAST(least(n, w * h * 3) AS BIGINT) + 1)
               ]), 0) AS wsum
        FROM dims
    )
    SELECT doc_id,
           CAST(CASE WHEN is_null THEN NULL ELSE w END AS INT) AS width,
           CAST(CASE WHEN is_null THEN NULL ELSE h END AS INT) AS height,
           CAST(CASE WHEN is_null THEN NULL ELSE 68 + m
           END AS BIGINT) AS n_file_bytes,
           CAST(CASE WHEN is_null THEN NULL ELSE least(h, 5)
           END AS INT) AS filters_used,
           CASE WHEN is_null THEN NULL ELSE TRUE END AS header_consistent,
           CAST(CASE WHEN is_null THEN NULL ELSE wsum % 65536
           END AS INT) AS pixel_checksum_weighted
    FROM sums
    """,
)
def mm_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth REAL byte-level codec (VERDICT r14 #5 — closing the
    'no compressed format' gap third-party-free): stage 1 ENCODES each
    document as an actual PNG (8-bit RGB, color type 2, non-interlaced)
    — signature, big-endian chunk framing with REAL CRC-32 per chunk,
    scanlines FORWARD-FILTERED with the full filter suite (row r uses
    type r % 5: None/Sub/Up/Average/Paeth) and DEFLATE-compressed into
    IDAT — and stage 2 DECODES it as a general PNG reader: chunk walk
    with per-chunk CRC verification, multi-IDAT concatenation, stdlib
    ``zlib.decompress`` (inflate + adler32), and per-row filter
    RECONSTRUCTION of all five filter types against the previously
    reconstructed scanline.

    What PNG exercises that PPM/BMP/WAV cannot: (1) an actual
    entropy-coded payload — the pixel stream only exists after inflate;
    (2) stateful row reconstruction — Up/Average/Paeth rows depend on
    the RECONSTRUCTED prior row, so a decoder that mis-reconstructs row
    r corrupts every later row and goes hash-red on the weighted
    checksum; (3) CRC-32 framing integrity.

    Oracle strategy: the encoder compresses at zlib level 0 (DEFLATE
    stored blocks), whose size is exact arithmetic — for filtered
    stream m = h*(1+3w) < 65531 bytes (dims are bounded at 11x9 by
    construction), IDAT = 2 (zlib hdr) + 5 (one stored-block hdr) + m
    + 4 (adler32), so file size = 8 + 25 + (12 + 11 + m) + 12 =
    68 + m, SQL-computable. The DECODER stays fully general (any
    compression level, any filter mix, split IDATs). Filter
    reconstruction inverts forward filtering exactly, so the
    reconstructed stream equals the logical RGB stream = first
    min(n, 3wh) text bytes zero-padded — the oracle re-derives the
    position-weighted checksum (mod 2^16, BMP convention) from hex
    pairs of the raw text. ``filters_used`` = distinct filter bytes
    seen = least(h, 5) pins that the decoder actually consumed the
    per-row filter bytes. NULL text -> all-NULL metrics (mm-family
    diagnostic-row contract).

    Scale shape: identical to the codec family — two Arrow-batched
    mapInPandas stages over one documents scan, payloads never cross
    an exchange, no shuffle anywhere."""
    import struct
    import zlib

    paeth = _png_paeth()

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    def to_png(text) -> bytes:
        tb = text.encode("utf-8")
        n = len(tb)
        w, h = 4 + n % 8, 3 + (n // 5) % 7
        row = w * 3
        logical = tb[: w * h * 3].ljust(w * h * 3, b"\x00")
        prior = bytes(row)
        filtered = bytearray()
        for r in range(h):
            raw = logical[r * row:(r + 1) * row]
            ft = r % 5
            filtered.append(ft)
            if ft == 0:
                filtered += raw
            elif ft == 1:  # Sub
                filtered += bytes(
                    (raw[i] - (raw[i - 3] if i >= 3 else 0)) & 0xFF
                    for i in range(row)
                )
            elif ft == 2:  # Up
                filtered += bytes(
                    (raw[i] - prior[i]) & 0xFF for i in range(row)
                )
            elif ft == 3:  # Average (floor((left+up)/2))
                filtered += bytes(
                    (raw[i] - (
                        ((raw[i - 3] if i >= 3 else 0) + prior[i]) >> 1
                    )) & 0xFF
                    for i in range(row)
                )
            else:  # Paeth
                filtered += bytes(
                    (raw[i] - paeth(
                        raw[i - 3] if i >= 3 else 0,
                        prior[i],
                        prior[i - 3] if i >= 3 else 0,
                    )) & 0xFF
                    for i in range(row)
                )
            prior = raw
        # level 0 -> stored blocks: exact 11 + m bytes for m < 65531
        idat = zlib.compress(bytes(filtered), 0)
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", idat)
            + chunk(b"IEND", b"")
        )

    d = load_table(spark, sf_dir, "documents")
    staged = d.select("doc_id", "text").mapInPandas(
        *_row_kernel(to_png, _PAYLOAD, source="text")
    )
    return staged.mapInPandas(*_make_png_decoder())


def _make_gif_decoder():
    """Factory for mm_decode_gif's decode stage (closure => cloudpickle
    by-value, the codec-family convention). The LZW decoder is GENERAL:
    variable code width with growth at next_code == 2^width (cap 12),
    clear-code table resets, the prev+prev[0] self-reference case, and
    extension-block skipping — it decodes real compressed GIFs, not
    just the engine's clear-code-per-chunk encoding (foreign-payload
    tests drive it with a genuinely compressed stream)."""
    import struct

    # Base-table memo (r17): the literal table is a function of
    # min_code_size alone, but was rebuilt per image AND per CLEAR code
    # as a dict comprehension (~0.9 s of the sf0.1 decode task). A LIST
    # indexed by code value (slots for CLEAR/END keep indexes aligned,
    # never looked up — both are intercepted first) makes the reset a
    # C-speed list.copy() and the table probe an index bound check;
    # len(table) tracks the old next_code exactly.
    _lzw_base: dict[int, list] = {}

    def lzw_decode(data: bytes, min_size: int) -> bytes | None:
        clear = 1 << min_size
        end = clear + 1
        base = _lzw_base.get(min_size)
        if base is None:
            base = [bytes([i]) for i in range(clear)] + [None, None]
            _lzw_base[min_size] = base
        width = min_size + 1
        table = base.copy()
        out = bytearray()
        prev: bytes | None = None
        # LSB-first accumulator (r17): pull whole bytes instead of the
        # old per-bit loop — identical code stream, identical
        # ran-off-the-stream condition (fewer than `width` bits left).
        acc = 0
        accbits = 0
        pos = 0
        n = len(data)
        while True:
            while accbits < width:
                if pos >= n:
                    return None  # ran off the stream without END
                acc |= data[pos] << accbits
                pos += 1
                accbits += 8
            v = acc & ((1 << width) - 1)
            acc >>= width
            accbits -= width
            if v == clear:
                table = base.copy()
                width = min_size + 1
                prev = None
                continue
            if v == end:
                return bytes(out)
            if v < len(table):
                entry = table[v]
            elif v == len(table) and prev is not None:
                entry = prev + prev[:1]  # the KwKwK self-reference case
            else:
                return None  # corrupt code
            out += entry
            if prev is not None:
                table.append(prev + entry[:1])
                if len(table) == (1 << width) and width < 12:
                    width += 1
            prev = entry

    def parse(payload) -> tuple:
        payload = bytes(payload)
        bad = (None, None, len(payload), False, None)
        if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
            return bad
        w, h, flags, _, _ = struct.unpack_from("<HHBBB", payload, 6)
        off = 13
        if flags & 0x80:  # global color table present
            off += 3 * (2 << (flags & 0x07))
        img = None
        while off < len(payload):
            b0 = payload[off]
            if b0 == 0x2C:  # image descriptor
                if off + 10 > len(payload):
                    # truncated descriptor: unpack_from would read past
                    # the buffer (ADVICE r15 #2) — diagnostic, no crash
                    return bad
                il, it, iw, ih, iflags = struct.unpack_from(
                    "<HHHHB", payload, off + 1
                )
                off += 10
                if iflags & 0x80:  # local color table
                    off += 3 * (2 << (iflags & 0x07))
                if off >= len(payload):
                    return bad  # color table / min-size byte truncated
                min_size = payload[off]
                off += 1
                stream = bytearray()
                while off < len(payload) and payload[off] != 0:
                    ln = payload[off]
                    stream += payload[off + 1:off + 1 + ln]
                    off += 1 + ln
                off += 1  # block terminator
                img = (iw, ih, min_size, bytes(stream))
            elif b0 == 0x21:  # extension: skip its sub-blocks
                off += 2
                while off < len(payload) and payload[off] != 0:
                    off += 1 + payload[off]
                off += 1
            elif b0 == 0x3B:  # trailer
                off += 1
                break
            else:
                return bad
        if img is None:
            return bad
        iw, ih, min_size, stream = img
        pixels = lzw_decode(stream, min_size)
        if pixels is None:
            return bad
        consistent = (
            off == len(payload)
            and payload[-1] == 0x3B
            and (iw, ih) == (w, h)
            and len(pixels) == iw * ih
        )
        wsum = 0
        for i, px in enumerate(pixels):
            wsum += (i + 1) * px
        return iw, ih, len(payload), bool(consistent), wsum % 65536

    return _row_kernel(parse, [
        ("width", _INT), ("height", _INT), ("n_file_bytes", _LONG),
        ("header_consistent", _BOOL), ("pixel_checksum_weighted", _INT),
    ])


@query(
    "mm_decode_gif",
    oracle="""
    WITH b AS (
        SELECT doc_id, text IS NULL AS is_null,
               octet_length(encode(coalesce(text, ''))) AS n,
               hex(encode(coalesce(text, ''))) AS hx
        FROM documents
    ),
    dims AS (
        SELECT doc_id, is_null, n, hx,
               3 + n % 9 AS w, 2 + (n // 3) % 8 AS h
        FROM b
    ),
    sz AS (
        SELECT doc_id, is_null, w, h, hx, n,
               w * h AS m,
               -- LZW stream: initial CLEAR + m literals with a CLEAR
               -- before each 254-literal chunk after the first + END,
               -- all 9-bit codes (the encoder clears before any width
               -- growth); then GIF sub-block framing
               (9 * (1 + m + greatest((m + 253) // 254 - 1, 0) + 1) + 7)
                   // 8 AS lzw
        FROM dims
    ),
    sums AS (
        SELECT doc_id, is_null, w, h, m,
               794 + lzw + (lzw + 254) // 255 AS file_bytes,
               COALESCE(list_sum([
                   i * (16 * (strpos('0123456789ABCDEF',
                                     substring(hx, 2 * i - 1, 1)) - 1)
                          + (strpos('0123456789ABCDEF',
                                    substring(hx, 2 * i, 1)) - 1))
                   FOR i IN range(1, CAST(least(n, m) AS BIGINT) + 1)
               ]), 0) AS wsum
        FROM sz
    )
    SELECT doc_id,
           CAST(CASE WHEN is_null THEN NULL ELSE w END AS INT) AS width,
           CAST(CASE WHEN is_null THEN NULL ELSE h END AS INT) AS height,
           CAST(CASE WHEN is_null THEN NULL ELSE file_bytes
           END AS BIGINT) AS n_file_bytes,
           CASE WHEN is_null THEN NULL ELSE TRUE END AS header_consistent,
           CAST(CASE WHEN is_null THEN NULL ELSE wsum % 65536
           END AS INT) AS pixel_checksum_weighted
    FROM sums
    """,
)
def mm_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fifth real codec — and the first HAND-WRITTEN entropy decoder in
    the family (PNG delegates inflate to zlib; this implements LZW
    itself). Stage 1 ENCODES each document as an actual GIF87a: logical
    screen descriptor, 256-entry grayscale global color table, image
    descriptor, and an LZW-coded 8-bit pixel stream in real sub-block
    framing. The encoder uses the standard 'uncompressed GIF' coding —
    a CLEAR code before every <=254-literal chunk keeps every code 9
    bits wide — which is valid LZW any decoder accepts AND makes the
    byte count a closed form the oracle computes exactly:
    lzw = ceil(9*(1 + m + max(ceil(m/254)-1, 0) + 1) / 8),
    file = 794 + lzw + ceil(lzw/255).

    Stage 2 DECODES as a general GIF reader: header/LSD parse, color-
    table and extension-block skipping, sub-block reassembly, and a
    FULL LZW decoder — LSB-first variable-width codes, width growth at
    next_code == 2^width (cap 12), clear-table resets, and the KwKwK
    self-reference case — so it also decodes genuinely COMPRESSED GIFs
    the engine never emits (pinned with a foreign real-LZW-compressed
    payload in tests). Checksum is the family's position-weighted sum
    over the decoded pixel stream = first min(n, w*h) text bytes
    zero-padded, re-derived from hex pairs by the oracle.

    Scale shape: identical to the codec family — two Arrow-batched
    mapInPandas stages over one documents scan, no shuffle."""
    import struct

    # constant grayscale color table — hoisted out of to_gif (r17: the
    # per-image genexpr was 3.8M iterations per sf0.1 task)
    gct = bytes(v for i in range(256) for v in (i, i, i))

    def to_gif(text) -> bytes:
        tb = text.encode("utf-8")
        n = len(tb)
        w, h = 3 + n % 9, 2 + (n // 3) % 8
        m = w * h
        pixels = tb[:m].ljust(m, b"\x00")
        codes = [256]  # initial CLEAR
        for i in range(0, m, 254):
            if i:
                codes.append(256)
            codes.extend(pixels[i:i + 254])
        codes.append(257)  # END
        acc = bitlen = 0
        out = bytearray()
        for c in codes:  # 9-bit LSB-first packing
            acc |= c << bitlen
            bitlen += 9
            while bitlen >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                bitlen -= 8
        if bitlen:
            out.append(acc & 0xFF)
        parts = [
            b"GIF87a",
            struct.pack("<HHBBB", w, h, 0xF7, 0, 0),
            gct,
            struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0),
            bytes([8]),  # LZW min code size
        ]
        for i in range(0, len(out), 255):
            blk = out[i:i + 255]
            parts.append(bytes([len(blk)]) + bytes(blk))
        parts.append(b"\x00\x3b")
        return b"".join(parts)

    d = load_table(spark, sf_dir, "documents")
    staged = d.select("doc_id", "text").mapInPandas(
        *_row_kernel(to_gif, _PAYLOAD, source="text")
    )
    return staged.mapInPandas(*_make_gif_decoder())


# --- JPEG (sixth codec: baseline JFIF — huffman entropy + DCT family) -------

# Standard JPEG tables (ITU-T T.81 Annex K — public spec).
JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)
JPEG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
JPEG_DC_VALS = tuple(range(12))
JPEG_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125)
JPEG_AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
)
# Engine DQT in zigzag order: DC step 8 (F(0,0) of a constant block is
# exactly 8*(v-128), so coded DC == v-128 and the roundtrip is
# bit-exact); AC steps 16 (standard-ish; engine blocks have zero AC).
JPEG_QTABLE = (8,) + (16,) * 63
# Huffman decode LUTs one JFIF reader keeps: the engine's writers use
# three distinct tables in all (Annex K DC and AC, progressive EOBn AC).
JPEG_HUFF_LUT_CAP = 8


def jpeg_canonical_codes(bits, vals):
    """(symbol -> (code, length)) canonical Huffman assignment per
    T.81 C.2 — shared derivation for the encoder and decoder."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _jpeg_entropy_tools():
    """JPEG entropy-decode kernel of the JFIF reader
    (_make_jpeg_reader): an accumulator BitReader plus a
    16-bit table-lookup Huffman decoder (r18 optimization, guide §4.2 —
    the r17 profile still showed 0.67 M per-bit Python calls per color
    task; this removes the per-bit loop entirely).

    Called INSIDE the reader factory so every object here is a
    closure-local dynamic class/function that cloudpickle serializes BY
    VALUE — executors never import this repo (the codec-family
    convention).

    Semantics are bit-identical to the r17 per-bit reader by
    construction:

    - ``_fill`` loads bytes with EXACTLY the old ``_next_byte`` rules
      (0xFF00 unstuffing, stop-at-marker, stop-at-truncation) but
      best-effort: insufficient bits raise only when a consumer
      actually needs them, which is the same observable outcome as the
      old raise-at-the-bit (every path maps to the decoders' broad
      ``except`` -> diagnostic row).
    - ``decode_huff`` indexes a 65536-entry LUT built canonically per
      (bits, vals) with SHORTEST-CODE-WINS fill order (lengths 16 down
      to 1), which reproduces the old loop's first-match-at-shortest-
      length semantics even for Kraft-violating foreign tables; windows
      shorter than 16 real bits are zero-padded, and a hit longer than
      the available bits raises exactly where the old loop would have
      hit truncation.
    - ``sync()`` rewinds prefetched-but-unconsumed whole bytes back
      onto the buffer (a loaded byte was 2 source bytes iff it was a
      stuffed 0xFF, i.e. the pair FF 00 — unambiguous because a plain
      0xFF cannot appear unstuffed in entropy data) and discards
      partial pad bits, restoring the old reader's exact ``pos``
      invariant at restart boundaries and scan ends.
    """
    import numpy as np

    _huff_memo = {}

    def build_decode(bits, vals):
        """65536-entry Huffman LUT: entry[w] = (code_length << 8) | symbol
        for the shortest code that is a prefix of the 16-bit window w;
        0 where no code matches. Memoized per table bytes (tables repeat
        across a corpus; rebuilding was ~5% of decode wall pre-r17), at
        most JPEG_HUFF_LUT_CAP tables, oldest dropped first: each LUT
        holds ~2.5 MB, and foreign JPEGs with per-image optimised tables
        would otherwise grow the memo by ~10 MB per image."""
        key = (bytes(bits), bytes(vals))
        hit = _huff_memo.get(key)
        if hit is not None:
            return hit
        lut = np.zeros(65536, dtype=np.uint16)
        # mincode/valptr per T.81 F.15, filled longest-length first so
        # shorter codes overwrite overlaps (old loop checked lengths
        # ascending and returned the first match).
        spans = []
        code = 0
        k = 0
        for length in range(1, 17):
            n = bits[length - 1]
            if n:
                spans.append((length, code, k, n))
                code += n
                k += n
            code <<= 1
        for length, mincode, valptr, n in reversed(spans):
            shift = 16 - length
            for i in range(n):
                c = mincode + i
                if c >= (1 << length):
                    break  # Kraft-violating tail: unreachable codes
                lut[c << shift:(c + 1) << shift] = (
                    (length << 8) | vals[valptr + i]
                )
        table = lut.tolist()  # plain-list indexing beats np scalar get
        if len(_huff_memo) >= JPEG_HUFF_LUT_CAP:
            del _huff_memo[next(iter(_huff_memo))]
        _huff_memo[key] = table
        return table

    class BitReader:
        """Entropy-segment bit reader with an MSB-first accumulator:
        unstuffs 0xFF00, stops at any other marker, byte-realigns (and
        rewinds prefetch) on restart. ``acc`` always holds exactly
        ``nbits`` valid low bits (consumers re-mask after every take)."""

        __slots__ = ("buf", "pos", "acc", "nbits", "marker", "exhausted")

        def __init__(self, buf: bytes, pos: int):
            self.buf = buf
            self.pos = pos
            self.acc = 0
            self.nbits = 0
            self.marker = None
            self.exhausted = False

        def _fill(self, target):
            """Best-effort: load whole bytes until >= target bits are
            buffered, or the stream ends (truncation / marker / past a
            previously-seen marker). Never raises — consumers raise
            when the bits they need are not there, which is the same
            observable point the old per-byte reader raised at."""
            if self.exhausted:
                return
            buf = self.buf
            pos = self.pos
            lim = len(buf)
            acc = self.acc
            nb = self.nbits
            while nb < target:
                if pos >= lim:
                    self.exhausted = True
                    break
                b = buf[pos]
                if b == 0xFF:
                    if pos + 1 >= lim:
                        self.exhausted = True  # truncated marker
                        break
                    nxt = buf[pos + 1]
                    if nxt != 0x00:
                        self.marker = nxt
                        self.exhausted = True
                        break
                    pos += 2  # stuffed 0xFF00 -> data byte 0xFF
                else:
                    pos += 1
                acc = (acc << 8) | b
                nb += 8
            self.acc = acc
            self.nbits = nb
            self.pos = pos

        def sync(self):
            """Rewind prefetched-but-unconsumed whole bytes onto the
            buffer and discard partial pad bits: afterwards ``pos`` is
            byte-exact — identical to the old reader after its
            ``byte_align()`` (a partially-consumed byte counts as
            consumed; untouched bytes do not)."""
            pos = self.pos
            buf = self.buf
            for _ in range(self.nbits >> 3):
                if pos >= 2 and buf[pos - 1] == 0x00 and buf[pos - 2] == 0xFF:
                    pos -= 2  # stuffed pair fed one 0xFF data byte
                else:
                    pos -= 1
            self.pos = pos
            self.acc = 0
            self.nbits = 0
            self.marker = None
            self.exhausted = False

        byte_align = sync  # spec name at restart boundaries

        def peek_marker(self):
            """At a byte boundary (post-sync), check for a marker
            without consuming."""
            if (
                self.nbits == 0
                and self.pos + 1 < len(self.buf)
                and self.buf[self.pos] == 0xFF
                and self.buf[self.pos + 1] != 0x00
            ):
                return self.buf[self.pos + 1]
            return None

        def skip_marker(self):
            self.pos += 2
            self.acc = 0
            self.nbits = 0
            self.marker = None
            self.exhausted = False

        def read_bit(self):
            nb = self.nbits
            if nb == 0:
                self._fill(1)
                nb = self.nbits
                if nb == 0:
                    raise ValueError("truncated entropy data")
            nb -= 1
            self.nbits = nb
            if self.acc >> nb:
                self.acc &= (1 << nb) - 1
                return 1
            return 0

        def read_bits(self, n):
            if n <= 0:
                return 0
            nb = self.nbits
            if nb < n:
                self._fill(n)
                nb = self.nbits
                if nb < n:
                    raise ValueError("truncated entropy data")
            nb -= n
            self.nbits = nb
            v = self.acc >> nb
            self.acc &= (1 << nb) - 1
            return v

    def decode_huff(br, lut):
        n = br.nbits
        if n < 16:
            br._fill(25)  # overshoot: one fill serves ~2 symbols
            n = br.nbits
        if n >= 16:
            w = br.acc >> (n - 16)
        else:
            w = (br.acc << (16 - n)) & 0xFFFF  # zero-padded tail window
        v = lut[w]
        ln = v >> 8
        if ln == 0 or ln > n:
            # no code matches (invalid stream) or the matching code
            # needs bits past the end (truncation) — both routes hit
            # the decoders' broad except -> diagnostic row, exactly
            # like the old per-bit loop's two raise points.
            raise ValueError("bad huffman code")
        n -= ln
        br.nbits = n
        br.acc &= (1 << n) - 1
        return v & 0xFF

    def extend(v, n):
        """T.81 F.2.2.1 EXTEND: recover signed value from n raw bits."""
        if n == 0:
            return 0
        return v if v >= (1 << (n - 1)) else v - (1 << n) + 1

    return BitReader, build_decode, decode_huff, extend


def _make_jpeg_reader(sof, ncomps, rgb, counts):
    """Factory for the decode stage of all three JPEG queries: ONE
    general JFIF reader, returning ``_row_kernel``'s (kernel, schema)
    (closure => cloudpickle by-value, the codec-family convention). Not
    an inverse of the engine's DC-only encoders:

    - one marker walk: APPn/COM skip, multi-table DQT in 8- and 16-bit
      precision, multi-table DHT, SOF0/SOF2 with any integer-ratio
      sampling grid, DRI, SOS, EOI;
    - one scan loop into per-component COEFFICIENT buffers, over
      interleaved MCUs or a single component's blocks (T.81 A.2): DC
      first (point-transformed diffs deposited << Al) and DC refine (one
      raw bit); AC first with run-length zeros, ZRL, EXTEND signs and,
      under SOF2, EOBRUN across blocks; AC refine (the G.1.2.3
      correction-bit walk, also inside EOBRUN tails); RSTn restarts
      reset predictors, EOBRUN and bit alignment. A baseline scan is
      the one-scan case, Ss=0 Se=63 Ah=Al=0;
    - one reconstruction: dequantize, inverse zigzag, separable float
      IDCT per block with the bit-identical DC-only fast path (the
      other 63 matmul terms are exact float zeros, so (a*F00)*a is the
      full IDCT — libjpeg's 1-coefficient path), nearest-replication
      upsampling, and libjpeg-style FIXED-POINT YCbCr->RGB:

        R = Y + ((91881*Cr' + 32768) >> 16)
        G = Y - ((22554*Cb' + 46802*Cr' + 32768) >> 16)
        B = Y + ((116130*Cb' + 32768) >> 16)     (Cx' = Cx - 128)

      integer arithmetic the SQL oracle replicates bit-for-bit (a float
      1.402-style conversion would hand the driver hash a
      rounding-boundary lottery).

    Each query's contract is data: ``sof`` the one SOF marker it accepts
    (0xC0 baseline, 0xC2 progressive), ``ncomps`` its component counts,
    ``rgb`` whether the position-weighted checksum runs over the
    RGB-INTERLEAVED buffer (channel-order and upsampling defects go
    hash-red) or the gray plane, and ``counts`` its count columns:
    "n_blocks"/"n_mcus" (MCUs of the first scan) and "n_scans".
    Anything outside the contract, and every truncated or forged
    structure, returns the diagnostic row, never a crash (the
    r15-advice codec rule; broad guard on parse)."""
    import math
    import struct

    import numpy as np

    # Bind the module-level table to a LOCAL so the closure pickles it
    # BY VALUE — a module-attribute reference would make executors
    # import this repo, which a plain driver session's workers cannot.
    unzig = np.argsort(np.array(JPEG_ZIGZAG))
    # IDCT basis: A[x, u] = 0.5 * C(u) * cos((2x+1) u pi / 16);
    # spatial = A @ F @ A.T
    _A = np.array(
        [
            [
                0.5 * (1 / math.sqrt(2) if u == 0 else 1.0)
                * math.cos((2 * x + 1) * u * math.pi / 16)
                for u in range(8)
            ]
            for x in range(8)
        ]
    )
    a00 = float(_A[0, 0])
    # Accumulator BitReader + 16-bit LUT Huffman decoder (r18, guide
    # §4.2) — see _jpeg_entropy_tools for the bit-exactness argument.
    # Instantiated INSIDE the factory so everything pickles by value.
    BitReader, build_decode, decode_huff, extend = _jpeg_entropy_tools()
    progressive = sof == 0xC2
    bad = (None, None) + (None,) * len(counts) + (False, None)

    def scan(br, blocks, per_mcu, coefs, dcs, acs, ri, ss, se, ah, al):
        """Decode one entropy segment into the coefficient buffers.
        ``blocks`` lists (scan component, block index) in coding order,
        ``per_mcu`` of them per MCU; restarts come every ``ri`` MCUs."""
        preds = [0] * len(coefs)
        eobrun = 0
        p1, m1 = 1 << al, -1 << al
        for t, (j, bi) in enumerate(blocks):
            if ri and t and t % (ri * per_mcu) == 0:
                br.byte_align()
                mk = br.peek_marker()
                if mk is None or not (0xD0 <= mk <= 0xD7):
                    raise ValueError("missing restart marker")
                br.skip_marker()
                preds = [0] * len(coefs)
                eobrun = 0
            # coefficients live in SCAN (zigzag) order, like the
            # DQT; natural order is restored once, at reconstruction
            coef = coefs[j]
            if ss == 0:  # DC
                if ah == 0:
                    s = decode_huff(br, dcs[j])
                    preds[j] += extend(br.read_bits(s), s)
                    coef[bi, 0] = preds[j] << al
                elif br.read_bit():  # DC refinement: one raw bit
                    coef[bi, 0] |= p1
            if not se:
                continue
            k = ss or 1
            if ah == 0:  # AC first (every baseline block)
                if eobrun:
                    eobrun -= 1
                    continue
                while k <= se:
                    rs = decode_huff(br, acs[j])
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r != 15:  # EOB; EOBn under SOF2
                            if progressive and r:
                                eobrun = (1 << r) - 1 + br.read_bits(r)
                            break
                        k += 16  # ZRL
                        continue
                    k += r
                    if k > se:
                        raise ValueError("AC run past the band")
                    coef[bi, k] = extend(br.read_bits(s), s) << al
                    k += 1
                continue
            # AC refinement (G.1.2.3)
            c = coef[bi]
            if eobrun == 0:
                while k <= se:
                    rs = decode_huff(br, acs[j])
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r != 15:  # EOBn: this block's tail below
                            eobrun = 1 << r
                            if r:
                                eobrun += br.read_bits(r)
                            break
                        # ZRL: skip 16 zero-history lanes,
                        # correcting nonzeros on the way
                    elif s == 1:
                        newval = p1 if br.read_bit() else m1
                    else:
                        raise ValueError("refine size must be 1")
                    while k <= se:
                        if c[k] != 0:
                            if br.read_bit() and not (c[k] & p1):
                                c[k] += p1 if c[k] > 0 else m1
                        else:
                            if r == 0:
                                if s:
                                    c[k] = newval
                                k += 1
                                break
                            r -= 1
                        k += 1
            if eobrun > 0:
                while k <= se:
                    if c[k] != 0:
                        if br.read_bit() and not (c[k] & p1):
                            c[k] += p1 if c[k] > 0 else m1
                    k += 1
                eobrun -= 1

    def parse(payload):
        p = bytes(payload)
        try:
            if len(p) < 4 or p[:2] != b"\xff\xd8":
                return bad
            pos = 2
            qtables, dc_tables, ac_tables = {}, {}, {}
            comps = None  # per frame component: (H, V, quant table id)
            ri = n_scans = n_mcus = 0
            # the walk ends at EOI, after a baseline frame's one scan, or
            # where the stream stops being a marker sequence
            while (
                pos + 2 <= len(p) and p[pos] == 0xFF and p[pos + 1] != 0xD9
            ):
                m = p[pos + 1]
                (seglen,) = struct.unpack_from(">H", p, pos + 2)
                seg = p[pos + 4:pos + 2 + seglen]
                if len(seg) != seglen - 2:
                    return bad
                pos += 2 + seglen
                if m == 0xDB:  # DQT, possibly several tables
                    off = 0
                    while off < len(seg):
                        pq, tq = seg[off] >> 4, seg[off] & 0x0F
                        size = 128 if pq else 64  # 16- or 8-bit entries
                        if off + 1 + size > len(seg):
                            return bad
                        qtables[tq] = struct.unpack_from(
                            ">64H" if pq else "64B", seg, off + 1
                        )
                        off += 1 + size
                elif m == 0xC4:  # DHT, possibly several tables
                    off = 0
                    while off < len(seg):
                        tc, th = seg[off] >> 4, seg[off] & 0x0F
                        bits = list(seg[off + 1:off + 17])
                        nv = sum(bits)
                        vals = list(seg[off + 17:off + 17 + nv])
                        if len(vals) != nv:
                            return bad
                        (ac_tables if tc else dc_tables)[th] = (
                            build_decode(bits, vals)
                        )
                        off += 17 + nv
                elif 0xC0 <= m <= 0xCF and m not in (0xC4, 0xC8, 0xCC):
                    if m != sof or seg[0] != 8 or seg[5] not in ncomps:
                        return bad  # another SOF type or out of contract
                    h, w = struct.unpack_from(">HH", seg, 1)
                    ids = list(seg[6:6 + 3 * seg[5]:3])
                    comps = [
                        (seg[7 + 3 * i] >> 4, seg[7 + 3 * i] & 0x0F,
                         seg[8 + 3 * i])
                        for i in range(seg[5])
                    ]
                    hmax = max(c[0] for c in comps)
                    vmax = max(c[1] for c in comps)
                    if any(H < 1 or V < 1 or hmax % H or vmax % V
                           for H, V, _ in comps):
                        return bad  # non-integer upsampling ratio
                    mcus_x = -(-w // (8 * hmax))
                    mcus_y = -(-h // (8 * vmax))
                    coefs = [
                        np.zeros((mcus_y * V * mcus_x * H, 64), np.int64)
                        for H, V, _ in comps
                    ]
                    scanned = set()
                elif m == 0xDD:  # DRI
                    (ri,) = struct.unpack_from(">H", seg, 0)
                elif m == 0xDA:  # SOS: decode one scan
                    if comps is None:
                        return bad  # scan before any frame header
                    ns = seg[0]
                    sel = [
                        (ids.index(seg[1 + 2 * i]), seg[2 + 2 * i])
                        for i in range(ns)
                    ]
                    ss, se, a = seg[1 + 2 * ns:4 + 2 * ns]
                    ah, al = a >> 4, a & 0x0F
                    if not progressive:
                        ss, se, ah, al = 0, 63, 0, 0
                    elif se > 63 or ss > se or (ss == 0) != (se == 0):
                        return bad  # DC scans are exactly Ss=Se=0
                    if not ns or len({ci for ci, _ in sel}) != ns \
                            or (ss and ns > 1):
                        return bad  # AC bands are single-component
                    for ci, t in sel:
                        if (se and t & 0x0F not in ac_tables) or (
                            ss == 0 and ah == 0 and t >> 4 not in dc_tables
                        ):
                            return bad  # the scan needs an undefined table
                        scanned.add(ci)
                    if ns == 1:  # non-interleaved: the component's blocks
                        H, V, _ = comps[sel[0][0]]
                        per_mcu = 1
                        blocks = [
                            (0, by * mcus_x * H + bx)
                            for by in range(-(-h * V // (8 * vmax)))
                            for bx in range(-(-w * H // (8 * hmax)))
                        ]
                    else:  # interleaved MCUs of H x V blocks per component
                        per_mcu = sum(
                            comps[ci][0] * comps[ci][1] for ci, _ in sel
                        )
                        blocks = [
                            (j, (my * V + by) * mcus_x * H + mx * H + bx)
                            for my in range(mcus_y)
                            for mx in range(mcus_x)
                            for j, (ci, _) in enumerate(sel)
                            for H, V, _ in [comps[ci]]
                            for by in range(V)
                            for bx in range(H)
                        ]
                    br = BitReader(p, pos)
                    scan(
                        br, blocks, per_mcu,
                        [coefs[ci] for ci, _ in sel],
                        [dc_tables.get(t >> 4) for _, t in sel],
                        [ac_tables.get(t & 0x0F) for _, t in sel],
                        ri, ss, se, ah, al,
                    )
                    # drop the scan's pad bits and rewind prefetched
                    # bytes: the next marker starts exactly at br.pos
                    br.sync()
                    pos = br.pos
                    n_mcus = n_mcus or len(blocks) // per_mcu
                    n_scans += 1
                    if not progressive:
                        break  # baseline: one scan, then EOI
                # APPn / COM / anything else with a length: skip
            if not n_scans or len(scanned) < len(comps) or (
                progressive and p[pos:pos + 2] != b"\xff\xd9"
            ):
                return bad  # no image, a component never scanned, or a
                # progressive stream cut before EOI
            quant = [qtables.get(tq) for _, _, tq in comps]
            if None in quant:
                return bad  # a component's DQT never arrived
            consistent = p[pos:] == b"\xff\xd9"
            planes = []
            for (H, V, _), coef, q in zip(comps, coefs, quant):
                # every block starts as its DC-only constant: a level
                # grid, replicated 8x and by the upsampling ratio
                fy, fx = vmax // V, hmax // H
                levels = [
                    min(255, max(0, round((a00 * float(v * q[0])) * a00)
                                 + 128))
                    for v in coef[:, 0].tolist()
                ]
                plane = (
                    np.array(levels, dtype=np.int64)
                    .reshape(mcus_y * V, mcus_x * H)
                    .repeat(8 * fy, axis=0).repeat(8 * fx, axis=1)
                )
                # then any block with AC energy gets the full IDCT
                ac = coef[:, 1:]
                has_ac = np.count_nonzero(ac)
                for i in np.flatnonzero(ac.any(axis=1)) if has_ac else ():
                    fq = (coef[i] * np.array(q))[unzig].reshape(8, 8)
                    spatial = _A @ fq.astype(np.float64) @ _A.T
                    by, bx = divmod(int(i), mcus_x * H)
                    plane[
                        by * 8 * fy:(by + 1) * 8 * fy,
                        bx * 8 * fx:(bx + 1) * 8 * fx,
                    ] = np.clip(np.round(spatial) + 128, 0, 255).repeat(
                        fy, axis=0
                    ).repeat(fx, axis=1)
                planes.append(plane[:h, :w])
            pix = planes[0]
            if rgb:
                if len(planes) == 3:
                    Y, cb, cr = planes[0], planes[1] - 128, planes[2] - 128
                    R = np.clip(Y + ((91881 * cr + 32768) >> 16), 0, 255)
                    G = np.clip(
                        Y - ((22554 * cb + 46802 * cr + 32768) >> 16), 0, 255
                    )
                    B = np.clip(Y + ((116130 * cb + 32768) >> 16), 0, 255)
                    pix = np.stack([R, G, B], axis=-1)
                else:
                    pix = pix[:, :, None].repeat(3, axis=2)
            pix = pix.reshape(-1)
            wsum = int(np.dot(np.arange(1, pix.size + 1), pix)) % 65536
            count = {"n_blocks": n_mcus, "n_mcus": n_mcus, "n_scans": n_scans}
            return (
                w, h, *(count[c] for c in counts), bool(consistent), wsum,
            )
        except (struct.error, LookupError, ValueError, OverflowError):
            return bad

    return _row_kernel(parse, [
        ("width", _INT), ("height", _INT), *((c, _INT) for c in counts),
        ("header_consistent", _BOOL), ("pixel_checksum_weighted", _INT),
    ])


def _jfif_writer(sof, comps, n_qtables, ac_table):
    """Factory for the encode stage of all three JPEG queries: ONE JFIF
    writer, returned as a closure so it pickles by value. ``write(w, h,
    scans)`` emits SOI, a JFIF APP0, one DQT segment holding
    ``n_qtables`` copies of JPEG_QTABLE, the SOFn frame header for
    ``comps`` = [(id, HV byte, quant table id)], two DHTs (the Annex K
    DC table as table 0 and ``ac_table`` = (id, bits, vals)), then per
    scan an SOS header and its entropy segment, then EOI.

    A query keeps only its image content and its scan script: each scan
    is (selectors, Ss, Se, Ah, Al, emit) with selectors = [(component
    id, Td << 4 | Ta)], and ``emit(put, dc, ac)`` writes the scan's bits
    — put(v, n) appends n raw bits, dc(i, v) codes v's category and
    difference against scan component i's predictor (JPEG's
    ones-complement negatives), ac(sym) one AC Huffman symbol. The bit
    writer packs MSB-first, stuffs 0x00 after every 0xFF byte and
    1-pads each scan's final byte."""
    import struct

    # Driver-side: derive the Huffman code assignments and copy every
    # table into plain locals, so the closure captures VALUES and never
    # needs this module importable on an executor.
    ac_id, ac_bits, ac_vals = ac_table
    dc_codes = jpeg_canonical_codes(JPEG_DC_BITS, JPEG_DC_VALS)
    ac_codes = jpeg_canonical_codes(ac_bits, ac_vals)
    head = (
        b"\xff\xd8\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HH", 1, 1) + b"\x00\x00"
        + b"\xff\xdb" + struct.pack(">H", 2 + 65 * n_qtables)
        + b"".join(bytes([t, *JPEG_QTABLE]) for t in range(n_qtables))
    )
    frame = bytes([len(comps)]) + b"".join(bytes(c) for c in comps)
    dht = b"".join(
        b"\xff\xc4" + struct.pack(">HB", 19 + len(vals), tc_th)
        + bytes(bits) + bytes(vals)
        for tc_th, bits, vals in (
            (0x00, JPEG_DC_BITS, JPEG_DC_VALS),
            (0x10 | ac_id, ac_bits, ac_vals),
        )
    )

    def write(w: int, h: int, scans) -> bytes:
        out = bytearray(head)
        out += bytes([0xFF, sof]) + struct.pack(
            ">HBHH", 8 + 3 * len(comps), 8, h, w
        ) + frame + dht
        acc = nacc = 0
        preds = []

        def put(v: int, nb: int) -> None:
            nonlocal acc, nacc
            acc = (acc << nb) | (v & ((1 << nb) - 1))
            nacc += nb
            while nacc >= 8:
                nacc -= 8
                byte = acc >> nacc
                out.append(byte)
                if byte == 0xFF:
                    out.append(0x00)  # byte stuffing
                acc &= (1 << nacc) - 1

        def dc(i: int, v: int) -> None:
            diff = v - preds[i]
            preds[i] = v
            cat = abs(diff).bit_length()
            put(*dc_codes[cat])
            if cat:
                put(diff if diff >= 0 else diff + (1 << cat) - 1, cat)

        def ac(sym: int) -> None:
            put(*ac_codes[sym])

        for sel, ss, se, ah, al, emit in scans:
            out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(sel), len(sel))
            out += b"".join(bytes(s) for s in sel)
            out += bytes([ss, se, ah << 4 | al])
            preds = [0] * len(sel)
            emit(put, dc, ac)
            if nacc:
                put((1 << (8 - nacc)) - 1, 8 - nacc)  # 1-pad
        return bytes(out + b"\xff\xd9")

    return write


# Each JPEG query's decode contract, passed to the one reader as data.
_JPEG_GRAY = dict(sof=0xC0, ncomps=(1,), rgb=False, counts=("n_blocks",))
_JPEG_COLOR = dict(sof=0xC0, ncomps=(1, 3), rgb=True, counts=("n_mcus",))
_JPEG_PROGRESSIVE = dict(
    sof=0xC2, ncomps=(1,), rgb=False, counts=("n_blocks", "n_scans")
)


@query(
    "mm_decode_jpeg",
    oracle="""
    WITH b AS (
        SELECT doc_id, text IS NULL AS is_null,
               octet_length(encode(coalesce(text, ''))) AS n,
               hex(encode(coalesce(text, ''))) AS hx
        FROM documents
    ),
    dims AS (
        SELECT doc_id, is_null, n, hx,
               1 + n % 4 AS bw, 1 + (n // 7) % 3 AS bh
        FROM b
    ),
    sums AS (
        SELECT doc_id, is_null, bw, bh, 8 * bw AS w, 8 * bh AS h,
               -- block i's gray level = byte (i % n) of the text (128
               -- for empty text); its 64 pixels decode to exactly that
               -- level (DC-only block, DC quant step 8), so the
               -- position-weighted sum is k_i times the closed-form
               -- index sum of block i's 8x8 tile in the w-wide image
               COALESCE(list_sum([
                   (CASE WHEN n = 0 THEN 128 ELSE
                        16 * (strpos('0123456789ABCDEF',
                              substring(hx, 2 * (i % greatest(n, 1)) + 1,
                                        1)) - 1)
                        + (strpos('0123456789ABCDEF',
                              substring(hx, 2 * (i % greatest(n, 1)) + 2,
                                        1)) - 1) END)
                   * (8 * (8 * bw) * (64 * (i // bw) + 28)
                      + 8 * (64 * (i % bw) + 28) + 64)
                   FOR i IN range(0, bw * bh)
               ]), 0) AS wsum
        FROM dims
    )
    SELECT doc_id,
           CAST(CASE WHEN is_null THEN NULL ELSE w END AS INT) AS width,
           CAST(CASE WHEN is_null THEN NULL ELSE h END AS INT) AS height,
           CAST(CASE WHEN is_null THEN NULL ELSE bw * bh END AS INT)
               AS n_blocks,
           CASE WHEN is_null THEN NULL ELSE TRUE END AS header_consistent,
           CAST(CASE WHEN is_null THEN NULL ELSE wsum % 65536 END AS INT)
               AS pixel_checksum_weighted
    FROM sums
    """,
)
def mm_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sixth REAL byte-level codec and the first DCT-family format
    (VERDICT r15 #5 — the last multimodal gap): stage 1 ENCODES each
    document as an actual baseline JFIF — SOI/APP0/DQT/SOF0/two
    DHTs/SOS framing, the STANDARD T.81 Annex K luminance Huffman
    tables, category-coded DC differences with JPEG's ones-complement
    negative convention, per-block EOB, 0xFF byte-stuffing, 1-padded
    final byte, EOI (the shared _jfif_writer) — and stage 2 DECODES it
    with the general JFIF reader under the baseline-grayscale contract
    (_make_jpeg_reader: marker walk, canonical Huffman, EXTEND,
    run-length AC with ZRL/EOB, dequantize, inverse zigzag, separable
    float IDCT, restart-marker support).

    Oracle strategy (exactness through a LOSSY format): each 8x8 block
    is CONSTANT — one gray level per block, taken from the text bytes —
    so its forward DCT is exactly DC = 8*(v-128) with all AC
    identically zero, and with DC quant step 8 the coded value is
    v-128 bit-exactly. The decode side then reproduces v exactly: a
    DC-only dequantized block IDCTs to a constant whose float error is
    ~1e-14, far under the round-to-int threshold. The entropy layer in
    between (Huffman codes, category bits, stuffing) is fully real —
    any bitstream defect lands on the wrong gray level and the
    position-weighted checksum goes hash-red. The decoder's AC path is
    exercised by FOREIGN payloads in tests (arbitrary coefficient
    blocks round-tripped against an independent numpy IDCT), like the
    PNG/GIF foreign-payload suites. File size is NOT emitted: byte
    stuffing makes it depend on bit alignment, which SQL cannot see —
    dims/blocks/consistency/checksum are the SQL-predictable contract.

    Scale shape: the codec-family invariant — two Arrow-batched
    mapInPandas stages over one documents scan, payloads never cross an
    exchange, no shuffle anywhere (decode cost is the payload, not the
    plan)."""
    write = _jfif_writer(
        0xC0, [(1, 0x11, 0)], 1, (0, JPEG_AC_BITS, JPEG_AC_VALS)
    )

    def to_jpeg(text) -> bytes:
        tb = text.encode("utf-8")
        n = len(tb)
        bw, bh = 1 + n % 4, 1 + (n // 7) % 3

        def emit(put, dc, ac):
            for i in range(bw * bh):  # block i: one gray level, DC only
                dc(0, (tb[i % n] if n else 128) - 128)
                ac(0x00)  # EOB

        return write(8 * bw, 8 * bh, [([(1, 0x00)], 0, 63, 0, 0, emit)])

    d = load_table(spark, sf_dir, "documents")
    staged = d.select("doc_id", "text").mapInPandas(
        *_row_kernel(to_jpeg, _PAYLOAD, source="text")
    )
    return staged.mapInPandas(*_make_jpeg_reader(**_JPEG_GRAY))


def _jpegc_byte(idx: str) -> str:
    """DuckDB: text byte at 0-based index (idx) mod n, 128 if empty."""
    return (
        "(CASE WHEN n = 0 THEN 128 ELSE "
        f"16 * (strpos('0123456789ABCDEF', substring(hx, "
        f"2 * (({idx}) % n) + 1, 1)) - 1) "
        f"+ (strpos('0123456789ABCDEF', substring(hx, "
        f"2 * (({idx}) % n) + 2, 1)) - 1) END)"
    )


@query(
    "mm_decode_jpeg_color",
    oracle=f"""
    WITH b AS (
        -- rk: synthetic unique row key so duplicate doc_ids (dup
        -- replica) never merge in the per-block aggregation below
        SELECT row_number() OVER () AS rk,
               doc_id, text IS NULL AS is_null,
               octet_length(encode(coalesce(text, ''))) AS n,
               hex(encode(coalesce(text, ''))) AS hx
        FROM documents
    ),
    dims AS (
        SELECT rk, doc_id, is_null, n, hx,
               1 + n % 3 AS mw, 1 + (n // 5) % 2 AS mh
        FROM b
    ),
    blk AS (
        SELECT rk, n, hx, mw, mh,
               16 * mw AS w, 2 * mw AS bw,
               unnest(range(0, 4 * mw * mh)) AS i
        FROM dims
    ),
    pos AS (
        SELECT rk, n, hx, w, i,
               i // bw AS by, i % bw AS bx,
               ((i // bw) // 2) * mw + ((i % bw) // 2) AS m
        FROM blk
    ),
    comps AS (
        SELECT rk, w, by, bx,
               {_jpegc_byte("i")} AS yv,
               {_jpegc_byte("m + 13")} - 128 AS cbd,
               {_jpegc_byte("2 * m + 7")} - 128 AS crd
        FROM pos
    ),
    rgb AS (
        SELECT rk, w, by, bx,
               greatest(0, least(255, yv + CAST(floor(
                   (91881 * crd + 32768) / 65536.0) AS BIGINT))) AS r,
               greatest(0, least(255, yv - CAST(floor(
                   (22554 * cbd + 46802 * crd + 32768) / 65536.0)
                   AS BIGINT))) AS g,
               greatest(0, least(255, yv + CAST(floor(
                   (116130 * cbd + 32768) / 65536.0) AS BIGINT))) AS bl,
               8 * w * (64 * by + 28) + 8 * (64 * bx + 28) AS sq
        FROM comps
    ),
    agg AS (
        SELECT rk,
               SUM(3 * (r + g + bl) * sq
                   + 64 * (r + 2 * g + 3 * bl)) AS wsum
        FROM rgb GROUP BY rk
    )
    SELECT d.doc_id,
           CAST(CASE WHEN d.is_null THEN NULL ELSE 16 * d.mw END AS INT)
               AS width,
           CAST(CASE WHEN d.is_null THEN NULL ELSE 16 * d.mh END AS INT)
               AS height,
           CAST(CASE WHEN d.is_null THEN NULL ELSE d.mw * d.mh END AS INT)
               AS n_mcus,
           CASE WHEN d.is_null THEN NULL ELSE TRUE END AS header_consistent,
           CAST(CASE WHEN d.is_null THEN NULL ELSE a.wsum % 65536 END
               AS INT) AS pixel_checksum_weighted
    FROM dims d LEFT JOIN agg a ON d.rk = a.rk
    """,
)
def mm_decode_jpeg_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seventh codec: COLOR baseline JFIF with 4:2:0 chroma subsampling
    — the real-world photo format shape (three components, interleaved
    MCUs of four Y blocks + one Cb + one Cr, per-component quant tables
    and DC predictors). The encoder emits genuine subsampled color
    JPEGs; the decoder is the general JFIF reader (_make_jpeg_reader)
    under the baseline-color contract: interleaved multi-component
    MCUs, nearest-replication upsampling and libjpeg-style fixed-point
    YCbCr->RGB.

    Exactness: Y is constant per 8x8 block (text byte at the Y-block's
    raster index), Cb/Cr constant per MCU (bytes at m+13 / 2m+7) — so
    every DCT is DC-only and bit-exact through quant step 8, and the
    color conversion is pure integer arithmetic the oracle replicates
    term-for-term, including clamping. The checksum is position-
    weighted over the RGB-INTERLEAVED pixel buffer (idx = 3*(row*w+col)
    + channel), so a channel swap, an upsampling misalignment, or a
    wrong predictor reset all go hash-red. Foreign payloads with
    non-constant chroma and 4:4:4 sampling are pinned in tests against
    an independent reference.

    Scale shape: codec-family invariant — two Arrow-batched mapInPandas
    stages over one documents scan, no shuffle."""
    write = _jfif_writer(
        0xC0,
        [(1, 0x22, 0), (2, 0x11, 1), (3, 0x11, 1)],  # Y 2x2; Cb, Cr 1x1
        2,  # quant tables: 0 luma, 1 chroma
        (0, JPEG_AC_BITS, JPEG_AC_VALS),
    )

    def to_jpeg(text) -> bytes:
        tb = text.encode("utf-8")
        n = len(tb)
        mw, mh = 1 + n % 3, 1 + (n // 5) % 2

        def level(i: int) -> int:
            return (tb[i % n] if n else 128) - 128

        def emit(put, dc, ac):
            for my in range(mh):
                for mx in range(mw):
                    m = my * mw + mx
                    units = [
                        (0, (2 * my + by) * 2 * mw + 2 * mx + bx)
                        for by in range(2)
                        for bx in range(2)
                    ] + [(1, m + 13), (2, 2 * m + 7)]  # 4 Y, Cb, Cr
                    for i, t in units:
                        dc(i, level(t))
                        ac(0x00)  # EOB

        sel = [(1, 0x00), (2, 0x00), (3, 0x00)]
        return write(16 * mw, 16 * mh, [(sel, 0, 63, 0, 0, emit)])

    d = load_table(spark, sf_dir, "documents")
    staged = d.select("doc_id", "text").mapInPandas(
        *_row_kernel(to_jpeg, _PAYLOAD, source="text")
    )
    return staged.mapInPandas(*_make_jpeg_reader(**_JPEG_COLOR))


# ---------------------------------------------------------------------------
# Image near-duplicate dedup: dHash over decoded pixels (VERDICT r16 #3)
# ---------------------------------------------------------------------------

def _make_dhash_decoder():
    """Factory for the dHash stage: a generic BMP-reading difference-hash
    kernel (closure => executors never import this module). For each
    payload: parse the BMP (little-endian headers, bottom-up rows,
    stride padding — the mm_decode_bmp machinery), area-downsample the
    luminance to the canonical dHash 9x8 grid with floor-of-mean
    integers, and emit the 64 left<right comparison bits packed as two
    longs (bit b = r*8+c set iff grid[r][c] < grid[r][c+1]).

    The downsampler is the real thing — boundaries at floor(i*h/8) /
    floor(j*w/9), any 24bpp dimensions — and is bit-exact on the
    synthesized corpus because every grid cell there is a constant
    tile (see mm_image_dhash's oracle note)."""
    import struct

    import numpy as np

    w32 = np.arange(32, dtype=np.int64)

    def dhash(payload) -> tuple:
        if len(payload) < 54 or payload[:2] != b"BM":
            return None, None, None, None
        _, _, _, off = struct.unpack_from("<IHHI", payload, 2)
        _, w, h, _, bpp, comp, _ = struct.unpack_from(
            "<IiiHHII", payload, 14
        )
        stride = (w * 3 + 3) // 4 * 4
        if (
            bpp != 24 or comp != 0 or w < 9 or h < 8
            or len(payload) < off + stride * h
        ):
            return None, None, None, None
        body = np.frombuffer(
            payload, dtype=np.uint8, count=stride * h, offset=off
        )
        # bottom-up -> top-down, strip padding, sum RGB per pixel
        luma3 = (
            body.reshape(h, stride)[::-1, : w * 3]
            .astype(np.int64)
            .reshape(h, w, 3)
            .sum(axis=2)
        )
        # 8x9 block means via a summed-area table (r17): one vectorized
        # pass replaces 72 per-cell numpy .sum() calls (~40% of the
        # fingerprint task's wall). Exact: int64 prefix sums,
        # nonnegative, so // floor-divides identically to the old
        # int(block.sum()) // (block.size * 3).
        P = np.zeros((h + 1, w + 1), dtype=np.int64)
        P[1:, 1:] = luma3.cumsum(axis=0).cumsum(axis=1)
        rb = (np.arange(9, dtype=np.int64) * h) // 8
        cb = (np.arange(10, dtype=np.int64) * w) // 9
        bs = (
            P[np.ix_(rb[1:], cb[1:])]
            - P[np.ix_(rb[:-1], cb[1:])]
            - P[np.ix_(rb[1:], cb[:-1])]
            + P[np.ix_(rb[:-1], cb[:-1])]
        )
        sizes = (rb[1:] - rb[:-1])[:, None] * (cb[1:] - cb[:-1])[None, :] * 3
        g = bs // sizes
        bits = (g[:, :8] < g[:, 1:]).astype(np.int64).ravel()
        h_lo = int((bits[:32] << w32).sum())
        h_hi = int((bits[32:] << w32).sum())
        return w, h, h_lo, h_hi

    return _row_kernel(dhash, [
        ("width", _INT), ("height", _INT), ("h_lo", _LONG), ("h_hi", _LONG),
    ])


def image_dhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, width, height, h_lo, h_hi) dHash fingerprints of the
    synthesized image corpus, one row per documents row (NULL text ->
    NULL fingerprint).

    Stage 1 ENCODES each document as a real 24bpp BMP whose pixels are
    an 8x9 grid of constant S x S tiles (S = 4 + n % 5, so dimensions
    36x32 .. 72x64 vary per doc and stride padding kicks in for odd
    widths); tile (r, c)'s gray level is text byte (r*9 + c) mod n
    (128 for empty text). Stage 2 runs the generic dHash kernel above.
    Constant tiles make the canonical 9x8 downsample EXACTLY the tile
    bytes — the whole fingerprint is integer-exact and SQL-predictable
    while the kernel itself stays a real any-size downsampler.

    Both stages are Arrow-batched mapInPandas over one documents scan:
    payloads never cross an exchange (the mm-family scale rule).
    Session-persisted per corpus: mm_image_dhash and dedup_image_dhash
    both consume this table."""
    import os as _os
    import struct

    import numpy as np

    from databricks_feature_store_poc_spark.cacheutil import memo

    def to_bmp(text) -> bytes:
        tb = text.encode("utf-8")
        n = len(tb)
        s = 4 + n % 5
        w, h = 9 * s, 8 * s
        grid = np.array(
            [
                [tb[(r * 9 + c) % n] if n else 128 for c in range(9)]
                for r in range(8)
            ],
            dtype=np.uint8,
        )
        img = np.repeat(np.repeat(grid, s, axis=0), s, axis=1)
        stride = (w * 3 + 3) // 4 * 4
        body = np.zeros((h, stride), dtype=np.uint8)
        body[:, : w * 3] = np.repeat(img[:, :, None], 3, axis=2).reshape(
            h, w * 3
        )
        img_size = stride * h
        hdr = b"BM" + struct.pack("<IHHI", 54 + img_size, 0, 0, 54)
        dib = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
        )
        return hdr + dib + body[::-1].tobytes()

    def build() -> DataFrame:
        staged = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .mapInPandas(*_row_kernel(to_bmp, _PAYLOAD, source="text"))
        )
        return staged.mapInPandas(*_make_dhash_decoder())

    src = [_os.path.join(sf_dir, "documents.parquet")]
    return memo(spark, "image_dhash_fingerprints", src, build, persist=True)


def _dhash_bit(i: str) -> str:
    """Oracle fragment: dHash bit for flat index {i} over the 1-based
    9-wide grid list g (left cell strictly less than its right
    neighbor)."""
    return (
        f"CASE WHEN g[(({i}) // 8) * 9 + (({i}) % 8) + 1]"
        f" < g[(({i}) // 8) * 9 + (({i}) % 8) + 2]"
        f" THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END"
    )


_DHASH_PACKED_CTE = f"""
    raw AS (
        SELECT doc_id, text IS NULL AS is_null,
               octet_length(encode(coalesce(text, ''))) AS n,
               hex(encode(coalesce(text, ''))) AS hx
        FROM documents
    ),
    grid AS (
        SELECT doc_id, is_null, 4 + n % 5 AS s,
               [CASE WHEN n = 0 THEN 128 ELSE
                   16 * (strpos('0123456789ABCDEF',
                         substring(hx, 2 * (t % n) + 1, 1)) - 1)
                      + (strpos('0123456789ABCDEF',
                         substring(hx, 2 * (t % n) + 2, 1)) - 1)
                END FOR t IN range(0, 72)] AS g
        FROM raw
    ),
    packed AS (
        SELECT doc_id, is_null, 9 * s AS w, 8 * s AS h,
               CAST(list_sum([{_dhash_bit("i")}
                   FOR i IN range(0, 32)]) AS BIGINT) AS h_lo,
               CAST(list_sum([{_dhash_bit("i + 32")}
                   FOR i IN range(0, 32)]) AS BIGINT) AS h_hi
        FROM grid
    )
"""


@query(
    "mm_image_dhash",
    oracle=f"""
    WITH {_DHASH_PACKED_CTE}
    SELECT doc_id,
           CAST(CASE WHEN is_null THEN NULL ELSE w END AS INT) AS width,
           CAST(CASE WHEN is_null THEN NULL ELSE h END AS INT) AS height,
           CASE WHEN is_null THEN NULL ELSE h_lo END AS h_lo,
           CASE WHEN is_null THEN NULL ELSE h_hi END AS h_hi
    FROM packed
    """,
)
def mm_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image fingerprints (dHash) over the synthesized BMP
    corpus — the multimodal half of dedup_image_dhash, emitted as its
    own contract so the hash layer is adjudicated independently of the
    clustering layer.

    The oracle recomputes the 72 tile gray levels straight from
    hex(encode(text)) and packs the 64 comparison bits with the same
    bit order (bit b = r*8+c, h_lo bits 0-31) — every bit of both longs
    is hash-adjudicated, so a decoder defect (row order, stride,
    downsample boundary, comparison strictness) goes red.
    """
    return image_dhash_fingerprints(spark, sf_dir)


@query(
    "dedup_image_dhash",
    oracle=f"""
    WITH RECURSIVE {_DHASH_PACKED_CTE},
    bands AS (
        SELECT doc_id, 0 AS band, h_lo & 65535 AS key
        FROM packed WHERE NOT is_null
        UNION ALL
        SELECT doc_id, 1, (h_lo >> 16) & 65535 FROM packed WHERE NOT is_null
        UNION ALL
        SELECT doc_id, 2, h_hi & 65535 FROM packed WHERE NOT is_null
        UNION ALL
        SELECT doc_id, 3, (h_hi >> 16) & 65535 FROM packed WHERE NOT is_null
    ),
    roots AS (
        SELECT band, key, MIN(doc_id) AS root
        FROM bands GROUP BY band, key
    ),
    star AS (
        SELECT DISTINCT r.root AS sa, bd.doc_id AS sb
        FROM bands bd JOIN roots r ON bd.band = r.band AND bd.key = r.key
        WHERE bd.doc_id != r.root
    ),
    edges(a, b) AS (
        SELECT sa, sb FROM star UNION SELECT sb, sa FROM star
    ),
    reach(node, target) AS (
        SELECT a, a FROM edges
        UNION
        SELECT r.node, e.b FROM reach r JOIN edges e ON r.target = e.a
    ),
    reps AS (
        SELECT node AS doc_id, CAST(MIN(target) AS BIGINT) AS cluster_rep
        FROM reach GROUP BY node
    ),
    lab AS (
        SELECT d.doc_id,
               CAST(COALESCE(r.cluster_rep, d.doc_id) AS BIGINT)
                   AS cluster_rep
        FROM documents d LEFT JOIN reps r ON d.doc_id = r.doc_id
    )
    SELECT doc_id, cluster_rep,
           CAST(COUNT(*) OVER (PARTITION BY cluster_rep) AS BIGINT)
               AS cluster_size,
           doc_id = cluster_rep AS is_rep
    FROM lab
    """,
)
def dedup_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image NEAR-DUPLICATE dedup — the composition VERDICT r16 #3
    ordered: real pixel decode (the BMP/dHash kernel above) feeding the
    O(docs) structural dedup contract of dedup_simhash_clusters
    (llm/dedup.py:673). This is how a multimodal 100 TB pipeline dedups
    images: perceptual hash per image, Hamming-banded LSH, one
    representative per connected cluster.

    Pipeline: dHash fingerprints (two map-only Arrow stages) -> 4 bands
    of 16 bits (a pair within Hamming distance 3 shares a band by
    pigeonhole) -> per-bucket STAR edges (s-1 edges for a bucket of s —
    never cliques, so a 100x clone corpus stays linear) -> shared
    _connected_components (distributed contraction above the 2M-edge
    cap) -> one (doc_id, cluster_rep, cluster_size, is_rep) row per
    documents row. Docs with no decodable image (NULL text) are
    singletons via the left join.

    Scale shape: decode is embarrassingly parallel and payloads never
    cross an exchange; everything after the fingerprint table is
    16-byte rows — bands groupBy (map-side combine), one equi-join
    back, <=4N star edges, CC, one window. No step super-linear in the
    corpus at any duplication factor.
    """
    from databricks_feature_store_poc_spark.llm.dedup import (
        _connected_components,
    )
    from pyspark.sql.window import Window

    fps = image_dhash_fingerprints(spark, sf_dir).filter(
        F.col("h_lo").isNotNull()
    )
    band_keys = [
        F.col("h_lo").bitwiseAND(65535),
        F.shiftright("h_lo", 16).bitwiseAND(65535),
        F.col("h_hi").bitwiseAND(65535),
        F.shiftright("h_hi", 16).bitwiseAND(65535),
    ]
    bands = fps.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("band"), band_keys[i].alias("key"))
                for i in range(4)
            ])
        ).alias("bk"),
    ).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    roots = bands.groupBy("band", "key").agg(F.min("doc_id").alias("root"))
    star = (
        bands.join(roots, ["band", "key"])
        .filter(F.col("doc_id") != F.col("root"))
        .select(F.col("root").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .distinct()
    )
    labels = _connected_components(spark, star)
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    lab = d.join(labels, d["doc_id"] == labels["node"], "left").select(
        "doc_id",
        F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_rep"),
    )
    size_w = Window.partitionBy("cluster_rep")
    return lab.select(
        "doc_id",
        "cluster_rep",
        F.count(F.lit(1)).over(size_w).cast("long").alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_rep")).alias("is_rep"),
    )


# ---------------------------------------------------------------------------
# Eighth codec: PROGRESSIVE JPEG (SOF2) — VERDICT r16 #6
# ---------------------------------------------------------------------------

@query(
    "mm_decode_jpeg_progressive",
    oracle="""
    WITH b AS (
        SELECT doc_id, text IS NULL AS is_null,
               octet_length(encode(coalesce(text, ''))) AS n,
               hex(encode(coalesce(text, ''))) AS hx
        FROM documents
    ),
    dims AS (
        SELECT doc_id, is_null, n, hx,
               1 + (n // 3) % 4 AS bw, 1 + (n // 11) % 3 AS bh
        FROM b
    ),
    sums AS (
        SELECT doc_id, is_null, bw, bh, 8 * bw AS w, 8 * bh AS h,
               -- block i's gray level = byte (i % n) (128 for empty);
               -- the six progressive scans reassemble exactly that
               -- DC-only level, so the position-weighted sum is the
               -- same closed form as mm_decode_jpeg's
               COALESCE(list_sum([
                   (CASE WHEN n = 0 THEN 128 ELSE
                        16 * (strpos('0123456789ABCDEF',
                              substring(hx, 2 * (i % greatest(n, 1)) + 1,
                                        1)) - 1)
                        + (strpos('0123456789ABCDEF',
                              substring(hx, 2 * (i % greatest(n, 1)) + 2,
                                        1)) - 1) END)
                   * (8 * (8 * bw) * (64 * (i // bw) + 28)
                      + 8 * (64 * (i % bw) + 28) + 64)
                   FOR i IN range(0, bw * bh)
               ]), 0) AS wsum
        FROM dims
    )
    SELECT doc_id,
           CAST(CASE WHEN is_null THEN NULL ELSE w END AS INT) AS width,
           CAST(CASE WHEN is_null THEN NULL ELSE h END AS INT) AS height,
           CAST(CASE WHEN is_null THEN NULL ELSE bw * bh END AS INT)
               AS n_blocks,
           CAST(CASE WHEN is_null THEN NULL ELSE 6 END AS INT) AS n_scans,
           CASE WHEN is_null THEN NULL ELSE TRUE END AS header_consistent,
           CAST(CASE WHEN is_null THEN NULL ELSE wsum % 65536 END AS INT)
               AS pixel_checksum_weighted
    FROM sums
    """,
)
def mm_decode_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eighth REAL codec and the stretch VERDICT r16 #6 picked:
    PROGRESSIVE JPEG (SOF2). Stage 1 ENCODES each document as an actual
    six-scan progressive JFIF — the scan script a real progressive
    encoder emits for grayscale:

      1. DC first        Ss=0  Se=0  Ah=0 Al=1  (point-transformed
         Huffman diffs — successive approximation's coarse pass)
      2. AC first  1-31  Ss=1  Se=31 Ah=0 Al=1  (spectral selection;
         all-zero bands coded as ONE cross-block EOBRUN)
      3. AC first 32-63  Ss=32 Se=63 Ah=0 Al=1
      4. AC refine 1-31  Ss=1  Se=31 Ah=1 Al=0  (EOBRUN tail with
         correction-bit walk — empty here, no nonzero history)
      5. AC refine 32-63 Ss=32 Se=63 Ah=1 Al=0
      6. DC refine       Ss=0  Se=0  Ah=1 Al=0  (one raw bit/block)

    and stage 2 DECODES it with the general JFIF reader
    (_make_jpeg_reader) under the progressive contract — coefficient
    accumulator, EOBRUN, successive-approximation deposits, refinement
    correction bits.

    Oracle strategy (shared with mm_decode_jpeg): each 8x8 block is one
    constant gray level from the text bytes, so DC = v-128 exactly and
    every AC is zero; the point transform splits v-128 into
    ((v-128)>>1 via scan 1) << 1 | (bit via scan 6), which floor-shift
    arithmetic reassembles EXACTLY for negatives too — so the decoded
    image equals the closed form and the entire six-scan entropy layer
    (EOBRUN lengths included: one run of bw*bh per AC scan) is
    hash-adjudicated through the weighted checksum. Dense-AC
    progressive payloads (nonzero coefficients, ZRL, AC refinement
    correction bits) are exercised by FOREIGN payloads in tests, like
    the rest of the codec family. n_scans is decoder-COUNTED (6), not
    assumed.

    Scale shape: the codec-family invariant — two Arrow-batched
    mapInPandas stages over one documents scan, no shuffle anywhere."""
    # progressive AC table: only EOBn symbols (n = 0..3 covers runs of
    # 1..15 blocks; the corpus has <= 12) — baseline's Annex-K AC table
    # has no EOBn, they are progressive-only symbols. Three 2-bit codes
    # + one 3-bit (T.81 C.2 reserves the all-1s code word as a prefix,
    # so a saturated 2-bit level would be non-conformant).
    ac_table = (1, (0, 3, 1) + (0,) * 13, (0x00, 0x10, 0x20, 0x30))
    write = _jfif_writer(0xC2, [(1, 0x11, 0)], 1, ac_table)

    def to_pjpeg(text) -> bytes:
        tb = text.encode("utf-8")
        n = len(tb)
        bw, bh = 1 + (n // 3) % 4, 1 + (n // 11) % 3
        nb = bw * bh
        dcs = [(tb[i % n] if n else 128) - 128 for i in range(nb)]
        r = nb.bit_length() - 1

        def dc_first(put, dc, ac):
            for v in dcs:
                dc(0, v >> 1)  # point transform (floor shift)

        def eob_run(put, dc, ac):  # an all-zero band: ONE EOBRUN of nb
            ac(r << 4)
            if r:
                put(nb - (1 << r), r)

        def dc_refine(put, dc, ac):
            for v in dcs:
                put(v & 1, 1)

        dc_sel, ac_sel = [(1, 0x00)], [(1, 0x01)]
        return write(8 * bw, 8 * bh, [
            (dc_sel, 0, 0, 0, 1, dc_first),
            (ac_sel, 1, 31, 0, 1, eob_run),
            (ac_sel, 32, 63, 0, 1, eob_run),
            (ac_sel, 1, 31, 1, 0, eob_run),
            (ac_sel, 32, 63, 1, 0, eob_run),
            (dc_sel, 0, 0, 1, 0, dc_refine),
        ])

    d = load_table(spark, sf_dir, "documents")
    staged = d.select("doc_id", "text").mapInPandas(
        *_row_kernel(to_pjpeg, _PAYLOAD, source="text")
    )
    return staged.mapInPandas(*_make_jpeg_reader(**_JPEG_PROGRESSIVE))


_DHASH_TOPK = 5
_DHASH_QUERIES = 10


@query(
    "sim_image_hamming_topk",
    oracle=f"""
    WITH {_DHASH_PACKED_CTE},
    fp AS (
        SELECT doc_id, h_lo, h_hi FROM packed WHERE NOT is_null
    )
    SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
           CAST(bit_count(xor(q.h_lo, c.h_lo))
                + bit_count(xor(q.h_hi, c.h_hi)) AS INT) AS hamming
    FROM fp q JOIN fp c
      ON q.doc_id < {_DHASH_QUERIES} AND c.doc_id <> q.doc_id
    QUALIFY row_number() OVER (
        PARTITION BY q.doc_id
        ORDER BY bit_count(xor(q.h_lo, c.h_lo))
                 + bit_count(xor(q.h_hi, c.h_hi)), c.doc_id
    ) <= {_DHASH_TOPK}
    """,
)
def sim_image_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 nearest IMAGES by dHash Hamming distance for the 10
    query images — the similarity-search face of the image family
    (pairs with dedup_image_dhash the way sim_cosine_topk pairs with
    dedup_embedding_cosine). kNN by perceptual hash is the standard
    image-retrieval baseline; the LSH-banded scale path for the
    bounded-radius regime is sim-family sim_range_search's shape over
    the same 4x16 bands (dedup_image_dhash builds exactly those
    buckets).

    Plan shape (the sim_cosine_topk convention): the query side is tiny
    by construction and broadcast, so the corpus pass is map-only —
    int64 XOR + bit_count per (query, candidate), all JVM-side; the
    only shuffle is the per-query top-k window. Ties break on
    neighbor_id so the cut is deterministic; fingerprints come from the
    session-persisted dHash table (one decode per corpus, shared with
    the dedup keys)."""
    fps = image_dhash_fingerprints(spark, sf_dir).filter(
        F.col("h_lo").isNotNull()
    )
    q = fps.filter(F.col("doc_id") < _DHASH_QUERIES).select(
        F.col("doc_id").alias("query_id"),
        F.col("h_lo").alias("q_lo"),
        F.col("h_hi").alias("q_hi"),
    )
    c = fps.select(
        F.col("doc_id").alias("neighbor_id"),
        F.col("h_lo").alias("c_lo"),
        F.col("h_hi").alias("c_hi"),
    )
    from pyspark.sql.window import Window

    pairs = F.broadcast(q).join(
        c, F.col("neighbor_id") != F.col("query_id")
    ).withColumn(
        "hamming",
        F.expr(
            "cast(bit_count(q_lo ^ c_lo) + bit_count(q_hi ^ c_hi) as int)"
        ),
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _DHASH_TOPK)
        .select("query_id", "neighbor_id", "hamming")
    )
