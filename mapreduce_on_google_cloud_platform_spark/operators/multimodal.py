"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Pattern for image/audio/video at 100 TB: the payload is an opaque
``BinaryType`` column that stays zipped through the pipeline (never
parsed by the engine), while all filtering/routing happens on cheap typed
metadata columns (format, dims, bytes, checksums) -- so partition pruning
and predicate pushdown keep working even though the payload is a blob.

The container has no image/audio codecs, so the decode step is STUBBED:
``decode_image_batch`` raises ``NotImplementedError`` unless the real
codec import succeeds, and the tested path uses ``_fake_decode`` -- a
deterministic byte-level "decoder" with the exact Arrow/mapInPandas batch
shape a real one would have.  The Spark-side plumbing (schema, batching,
partitioning) is real and tested; only the codec call is fake.

The testdata has no binary table, so payloads are synthesized from
``documents.text`` (utf-8 bytes) -- which also makes the metadata query
DuckDB-checkable end-to-end.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table

# typed metadata the engine routes on; payload stays opaque
MEDIA_SCHEMA = (
    "doc_id bigint, media_type string, fmt string, width int, height int, "
    "n_bytes bigint, payload binary"
)

FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes bigint, mean_byte double, max_byte int, "
    "hist_0 bigint, hist_1 bigint, hist_2 bigint, hist_3 bigint"
)


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> media rows: binary payload + deterministic typed
    metadata (stand-in for image dims etc.)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.lit("image").alias("media_type"),
        F.when(F.col("doc_id") % 3 == 0, "png").otherwise("jpeg").alias("fmt"),
        (64 + F.col("doc_id") % 192).cast("int").alias("width"),
        (64 + (F.col("doc_id") * 7) % 192).cast("int").alias("height"),
        F.octet_length("text").cast("bigint").alias("n_bytes"),
        F.encode("text", "UTF-8").alias("payload"),
    )


def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-side stats per format -- the payload column is never opened
    (only length + checksum, both computable without decode)."""
    media = media_table(spark, sf_dir)
    return (
        media.select(
            "fmt",
            "n_bytes",
            "width",
            "height",
            F.md5("payload").alias("payload_md5"),
        )
        .groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("n_bytes").alias("total_bytes"),
            F.max("width").alias("max_width"),
            F.max("height").alias("max_height"),
            F.min("payload_md5").alias("min_md5"),
        )
    )


MULTIMODAL_METADATA_ORACLE = """
    WITH media AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
               CAST(64 + doc_id % 192 AS INTEGER) AS width,
               CAST(64 + (doc_id * 7) % 192 AS INTEGER) AS height,
               CAST(strlen(text) AS BIGINT) AS n_bytes,
               md5(text) AS payload_md5
        FROM documents
    )
    SELECT fmt,
           count(*) AS n_media,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           max(width) AS max_width,
           max(height) AS max_height,
           min(payload_md5) AS min_md5
    FROM media
    GROUP BY fmt
"""


def _fake_decode(payload: bytes) -> "object":
    """Deterministic stand-in for a codec: bytes -> uint8 'pixel' array."""
    import numpy as np

    return np.frombuffer(payload, dtype=np.uint8)


def decode_image_batch(payloads):
    """Real decode hook: probes for a codec library (PIL) at call time.

    Present -> each payload decodes to a flattened uint8 grayscale pixel
    array (the same shape contract as ``_fake_decode``, so the Arrow
    plumbing above is identical either way).  Absent (this container
    ships no codecs) -> loud NotImplementedError rather than silently
    producing fake features; the declared queries use the deterministic
    ``_fake_decode`` path explicitly instead.
    """
    try:
        from PIL import Image
    except ImportError as exc:  # pragma: no cover - no codec in container
        raise NotImplementedError(
            "image decode requires a codec library (PIL) not present in "
            "this environment; use the _fake_decode-backed feature path"
        ) from exc
    from io import BytesIO

    import numpy as np

    out = []
    for payload in payloads:
        with Image.open(BytesIO(bytes(payload))) as im:
            out.append(np.asarray(im.convert("L"), dtype=np.uint8).ravel())
    return out


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads via mapInPandas: Arrow-batched
    iterator of pandas DataFrames in, feature rows out.  This is the real
    100 TB shape -- per-partition batches, no driver involvement, payload
    bytes touched exactly once."""
    import pandas as pd

    media = media_table(spark, sf_dir).select("doc_id", "payload")

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np

        # Self-contained twin of _fake_decode: referencing the module-level
        # function would make cloudpickle serialize the closure BY REFERENCE
        # to this package, which executors can't import unless the repo is on
        # their PYTHONPATH (it isn't when the driver runs from elsewhere).
        # Worker-executed closures must capture everything by value.
        def fake_decode(payload: bytes):
            return np.frombuffer(payload, dtype=np.uint8)

        for pdf in batches:
            feats = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                px = fake_decode(bytes(payload))
                hist = np.bincount(px >> 6, minlength=4)
                feats.append(
                    (
                        doc_id,
                        len(px),
                        float(px.mean()) if len(px) else 0.0,
                        int(px.max()) if len(px) else 0,
                        int(hist[0]),
                        int(hist[1]),
                        int(hist[2]),
                        int(hist[3]),
                    )
                )
            yield pd.DataFrame(
                feats,
                columns=[
                    "doc_id",
                    "n_bytes",
                    "mean_byte",
                    "max_byte",
                    "hist_0",
                    "hist_1",
                    "hist_2",
                    "hist_3",
                ],
            )

    return media.mapInPandas(extract, schema=FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Resize (1 -> 1) and frame sampling (1 -> N): the remaining media-edge shapes
# ---------------------------------------------------------------------------

RESIZE_N = 64           # target sample count per payload
FRAME_BYTES = 128       # "frame" size within a payload
FRAME_HOP = 256         # sample a frame every HOP bytes

RESIZE_SCHEMA = "doc_id bigint, n_in bigint, n_out bigint, resized_md5 string"
FRAME_SCHEMA = (
    "doc_id bigint, frame_idx int, frame_md5 string, frame_head string"
)


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic "resize": evenly strided downsample of each payload
    to at most RESIZE_N samples (stride = ceil(n/RESIZE_N)) — the same
    batch shape a real thumbnailer has (Arrow in, one row out per
    payload, payload touched once).  A real deployment swaps the strided
    byte pick for a codec resize behind ``decode_image_batch``; because
    the fake decode is byte-level and the payloads are ASCII, this one
    is exactly DuckDB-checkable, which pins the plumbing (batching,
    schema, per-row independence) with a full value oracle rather than a
    rows-only check."""
    import pandas as pd

    media = media_table(spark, sf_dir).select("doc_id", "payload")

    def resize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        out_n = RESIZE_N

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n = len(b)
                stride = (n + out_n - 1) // out_n if n else 1
                sampled = b[::stride] if n else b
                rows.append(
                    (doc_id, n, len(sampled), hashlib.md5(sampled).hexdigest())
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_in", "n_out", "resized_md5"]
            )

    return media.mapInPandas(resize, schema=RESIZE_SCHEMA)


MULTIMODAL_RESIZE_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, text, length(text) AS n,
               CAST(ceil(length(text) / {RESIZE_N}.0) AS BIGINT) AS stride
        FROM documents
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_in,
           CAST(len(range(0, n, stride)) AS BIGINT) AS n_out,
           md5(list_aggregate(
               list_transform(range(0, n, stride),
                              i -> substring(text, CAST(i + 1 AS INTEGER), 1)),
               'string_agg', '')) AS resized_md5
    FROM d
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: treat each payload as a byte stream of
    FRAME_BYTES-sized frames and emit every (FRAME_HOP/FRAME_BYTES)-th
    full frame — the 1 -> N fan-out shape of video frame extraction
    (mapInPandas yields multiple rows per input row; short payloads
    yield zero).  Emits a checksum + head preview per frame, so the
    oracle can verify every sampled byte without carrying blobs."""
    import pandas as pd

    media = media_table(spark, sf_dir).select("doc_id", "payload")

    def frames(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                for idx, off in enumerate(
                    range(0, len(b) - FRAME_BYTES + 1, FRAME_HOP)
                ):
                    chunk = b[off : off + FRAME_BYTES]
                    rows.append(
                        (
                            doc_id,
                            idx,
                            hashlib.md5(chunk).hexdigest(),
                            chunk[:8].decode("ascii", "replace"),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_md5", "frame_head"]
            )

    return media.mapInPandas(frames, schema=FRAME_SCHEMA)


MULTIMODAL_FRAME_ORACLE = f"""
    SELECT doc_id,
           CAST(i AS INTEGER) AS frame_idx,
           md5(substring(text, CAST(i * {FRAME_HOP} + 1 AS INTEGER), {FRAME_BYTES}))
               AS frame_md5,
           substring(text, CAST(i * {FRAME_HOP} + 1 AS INTEGER), 8) AS frame_head
    FROM documents,
         unnest(range(0, greatest(0,
             CAST(floor((length(text) - {FRAME_BYTES}) / {FRAME_HOP}.0) AS BIGINT) + 1)))
         t(i)
"""


# ---------------------------------------------------------------------------
# Binary-content dedup: exact duplicate detection over the OPAQUE payload
# column -- group on (md5, n_bytes) computed without decoding, keep the
# smallest doc_id.  The multimodal twin of dedup.dedup_exact: at 100 TB
# the md5 streams over each blob once at scan time and the shuffle
# carries only (hash, id) pairs, never the payloads.
# ---------------------------------------------------------------------------


def multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_table(spark, sf_dir)
    return (
        media.select(
            F.md5("payload").alias("content_md5"), "n_bytes", "doc_id", "fmt"
        )
        .groupBy("content_md5", "n_bytes")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("fmt").alias("n_formats"),
        )
    )


MULTIMODAL_DEDUP_ORACLE = """
    SELECT md5(text) AS content_md5,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_copies,
           CAST(count(DISTINCT CASE WHEN doc_id % 3 = 0 THEN 'png'
                                    ELSE 'jpeg' END) AS BIGINT) AS n_formats
    FROM documents
    GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Byte-level SimHash NEAR-dup over the opaque payload -- the perceptual
# cousin of multimodal_dedup's exact md5 grouping: re-encoded or
# lightly-corrupted media (a flipped header field, a re-muxed
# container) hashes to a different md5 but shares almost all byte
# 4-grams, so its frequency-weighted byte-shingle SimHash lands within
# a small Hamming radius.  The payload stays OPAQUE: the only byte
# access is hex() + fixed-stride substrings -- no codec, no decode.
#
# Pipeline: hex(payload) -> byte-aligned 4-byte shingles (8 hex chars,
# stride 2) -> shingle counts -> 32-bit frequency-weighted SimHash via
# the shared instr-based bit extraction (functions/hashing.py) -> the
# SAME banded candidate join the text family uses (SIMHASH_BANDS bands;
# pigeonhole guarantees recall to hamming SIMHASH_BANDS - 1) -> exact
# Hamming verify at MM_HAMMING_MAX.
#
# Scale: shingles are ~1 row per payload byte/2; signatures are one
# combinable groupBy per (doc, shingle) + one per (doc, bit); the pair
# stage is the audited band-bucket equi-join, never all-pairs.
# ---------------------------------------------------------------------------

MM_SHINGLE_HEX = 8  # 4 payload bytes per shingle
# Radius 3, not the text family's 7: byte shingles of same-vocabulary
# synthetic docs crowd the signature space (measured at sf0.01: hamming
# <= 7 admits 14% of ALL pairs -- a corpus-quadratic output -- while
# <= 3 keeps 0.4%), and the 8x4 bands guarantee recall to hamming 7
# anyway, so radius 3 has exact recall with bounded output mass.
MM_HAMMING_MAX = 3


def multimodal_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import SIMHASH_BANDS, SIMHASH_BITS, md5_prefix
    from ..functions.text import docs_by_id

    media = media_table(spark, sf_dir)
    # Optimization round 12, two plan-level rewrites (values identical,
    # re-verified vs the unchanged oracle at sf0.01 + sf0.1):
    # 1. The hex shingle stream is explode(sequence) + ONE scalar
    #    substring instead of explode(transform(sequence, lambda)) --
    #    the lambda ran interpreted per element (SCALING.md pitfall 1)
    #    over up-to-thousands-entry arrays.
    # 2. The per-bit sign expansion no longer explodes 32 rows per
    #    distinct shingle into a x32-row join feeding a (doc, j)
    #    shuffle: each shingle's whole 32-bit md5 prefix rides the join
    #    as ONE bigint v, and the per-doc bit sums are 32 conditional
    #    aggregates (b_j = sum(cnt | bit j set), tot = sum(cnt)), so
    #    s_j = 2*b_j - tot replaces sum(cnt*sgn_j) exactly.  Bit j of
    #    the hex-string extraction (digit floor(j/4), MSB-first within
    #    the digit) is bit (31 - j) of v, a pure shiftright.
    shingle_counts = (
        docs_by_id(media)
        .select("doc_id", F.hex("payload").alias("hx"))
        .select(
            "doc_id",
            "hx",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(
                        F.length("hx") - (MM_SHINGLE_HEX - 1), F.lit(1)
                    ),
                    F.lit(2),
                )
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.expr(f"substring(hx, i, {MM_SHINGLE_HEX})").alias("sh"),
        )
        .groupBy("doc_id", "sh")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # v is a pure scalar of sh, so it rides the SAME projection instead
    # of a distinct + join (one shuffle removed, guide SS2.4); the md5
    # recompute per (doc, sh) row is map-side CPU, strictly cheaper than
    # shuffling the count table through an extra join at any scale
    weighted = shingle_counts.select(
        "doc_id",
        "cnt",
        md5_prefix("sh", SIMHASH_BITS // 4).alias("v"),
    )
    bit_aggs = [
        F.sum(
            F.when(
                F.expr(f"(shiftright(v, {SIMHASH_BITS - 1 - j}) % 2) = 1"),
                F.col("cnt"),
            ).otherwise(F.lit(0))
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    sim_expr = " + ".join(
        f"(CASE WHEN 2 * b{j} - tot > 0 THEN CAST({1 << j} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for j in range(SIMHASH_BITS)
    )
    sig = (
        weighted.groupBy("doc_id")
        .agg(F.sum("cnt").alias("tot"), *bit_aggs)
        .selectExpr("doc_id", f"({sim_expr}) AS simhash")
    )
    bits = SIMHASH_BITS // SIMHASH_BANDS
    chunks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.expr(
                            f"CAST(floor(simhash / CAST(power(2, {bits * i})"
                            f" AS BIGINT)) AS BIGINT) % {2 ** bits}"
                        ).alias("chunk"),
                    )
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bc"),
    ).select(
        "doc_id",
        "simhash",
        F.col("bc.band").alias("band"),
        F.col("bc.chunk").alias("chunk"),
    ).persist()
    # The band self-join expands to ~20M candidate rows at sf0.1 over
    # only 8 x 16 (band, chunk) buckets, several of them hot (byte
    # shingles crowd the signature space -- the geometry the audit
    # documents), so an unsalted shuffle runs the whole expansion on a
    # couple of tasks.  Salt the pair space (guide SS2.5): the probe
    # side keys each row by doc_id % S, the build side explodes all S
    # salts, every bucket's quadratic expansion splits S ways, and the
    # emitted pair set is IDENTICAL (each (a, b) meets at exactly one
    # salt per matching band).  The hamming filter runs before the
    # distinct so the dedup shuffle carries only kept pairs.
    salt_n = 16
    a = chunks.alias("ma").withColumn(
        "salt", (F.col("doc_id") % salt_n).cast("int")
    )
    b = chunks.alias("mb").withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(salt_n)]))
    )
    return (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("ma.band") == F.col("mb.band"))
            & (F.col("ma.chunk") == F.col("mb.chunk"))
            & (a["salt"] == b["salt"]),
        )
        .filter(F.col("ma.doc_id") < F.col("mb.doc_id"))
        .select(
            F.col("ma.doc_id").alias("doc_a"),
            F.col("mb.doc_id").alias("doc_b"),
            F.bit_count(F.col("ma.simhash").bitwiseXOR(F.col("mb.simhash")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= MM_HAMMING_MAX)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def _mm_simhash_oracle() -> str:
    from ..functions.hashing import (
        BITS16,
        HEX_DIGITS,
        SIMHASH_BANDS,
        SIMHASH_BITS,
    )

    bits = SIMHASH_BITS // SIMHASH_BANDS

    def chunk(prefix: str, i: int) -> str:
        return (
            f"CAST(floor({prefix}simhash / CAST(power(2, {bits * i})"
            f" AS BIGINT)) AS BIGINT) % {2 ** bits}"
        )

    band_match = " OR ".join(
        f"{chunk('a.', i)} = {chunk('b.', i)}" for i in range(SIMHASH_BANDS)
    )
    return f"""
    WITH hx AS (
        SELECT doc_id, hex(encode(text)) AS hx FROM documents
    ),
    shc AS (
        SELECT doc_id, substr(hx, CAST(i AS INT), {MM_SHINGLE_HEX}) AS sh,
               count(*) AS cnt
        FROM hx, unnest(range(1, greatest(length(hx)
                                          - {MM_SHINGLE_HEX - 1}, 1) + 1, 2)) t(i)
        GROUP BY 1, 2
    ),
    per_bit AS (
        SELECT doc_id, j,
               sum(cnt * (2 * CAST(substring('{BITS16}',
                   (instr('{HEX_DIGITS}', substring(substring(md5(sh), 1,
                                                    {SIMHASH_BITS // 4}),
                                                    CAST(floor(j/4) AS INT) + 1,
                                                    1)) - 1) * 4
                   + (j % 4) + 1, 1) AS INT) - 1)) AS s
        FROM shc, unnest(range(0, {SIMHASH_BITS})) t(j)
        GROUP BY 1, 2
    ),
    sig AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN CAST(power(2, j) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS simhash
        FROM per_bit GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE ({band_match})
      AND bit_count(xor(a.simhash, b.simhash)) <= {MM_HAMMING_MAX}
    ORDER BY doc_a, doc_b
"""


MM_SIMHASH_ORACLE = _mm_simhash_oracle()


# ---------------------------------------------------------------------------
# Fixed-size payload chunking: split each opaque blob into CHUNK_BYTES
# pieces with ordinals -- the row shape audio/video processing needs
# (each chunk becomes an independent unit of decode/inference work, so
# a 4 GB video fans out across tasks instead of pinning one).  Pure
# engine-side byte slicing: sequence + explode + substring on the
# BinaryType column, no Python in the row path.  The oracle slices the
# source text instead -- the corpus is pure ASCII, so character and
# byte offsets coincide and the md5s must agree.
# ---------------------------------------------------------------------------

CHUNK_BYTES = 64


def multimodal_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_table(spark, sf_dir)
    n_chunks = F.ceil(F.col("n_bytes") / F.lit(float(CHUNK_BYTES))).cast("bigint")
    chunk = F.expr(f"substring(payload, chunk_idx * {CHUNK_BYTES} + 1, {CHUNK_BYTES})")
    return (
        media.select(
            "doc_id",
            "payload",
            F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias(
                "chunk_idx"
            ),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.md5(chunk).alias("chunk_md5"),
            F.length(chunk).cast("int").alias("chunk_bytes"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


MULTIMODAL_CHUNK_ORACLE = f"""
    SELECT doc_id, i AS chunk_idx,
           md5(substring(text, CAST(i * {CHUNK_BYTES} + 1 AS BIGINT),
                         {CHUNK_BYTES})) AS chunk_md5,
           CAST(strlen(substring(text, CAST(i * {CHUNK_BYTES} + 1 AS BIGINT),
                                 {CHUNK_BYTES})) AS INTEGER) AS chunk_bytes
    FROM documents,
         unnest(range(0, CAST(ceil(strlen(text) / {CHUNK_BYTES}.0) AS BIGINT)))
             t(i)
    ORDER BY doc_id, chunk_idx
"""


# ---------------------------------------------------------------------------
# WebDataset-style shard manifest -- the multimodal release artifact: a
# training loader consumes media as sequential tar-like shards, so the
# packer must assign every payload to a byte-budgeted shard in a
# DETERMINISTIC order and publish, per shard, the byte mass, the format
# mix, and an order-insensitive content checksum the loader can verify
# without opening payloads.  Same contract training_shard_manifest
# gives the text corpus, at byte (not token) granularity.
#
# Scale: reuses the shared two-pass range-partitioned prefix sum
# (text_analysis._doc_start_positions) for the byte offsets -- driver
# state is O(#partitions), no full-stream window; the rollup groups are
# bounded by SHARD_BYTE_BUDGET for payloads >= 1 byte (empty payloads
# share an offset -- same caveat as the text manifest).  The payload
# column itself is never opened: offsets and checksums ride the typed
# metadata only.
# ---------------------------------------------------------------------------

SHARD_BYTE_BUDGET = 16_384


def multimodal_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text_analysis import _doc_start_positions

    media = media_table(spark, sf_dir)
    counts = media.select("doc_id", F.col("n_bytes").alias("n_toks"))
    assigned = _doc_start_positions(spark, counts).select(
        "doc_id",
        F.col("n_toks").alias("n_bytes"),
        F.expr(f"doc_start div {SHARD_BYTE_BUDGET}").alias("shard"),
    )
    joined = assigned.join(media.select("doc_id", "fmt"), "doc_id")
    return (
        joined.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("n_bytes").cast("bigint").alias("shard_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.sum(F.when(F.col("fmt") == "png", 1).otherwise(0))
            .cast("bigint")
            .alias("n_png"),
            F.sum(F.when(F.col("fmt") == "jpeg", 1).otherwise(0))
            .cast("bigint")
            .alias("n_jpeg"),
            # numeric sort BEFORE stringify: '10' < '9' lexicographically
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.sort_array(F.collect_list("doc_id")),
                        lambda d: d.cast("string"),
                    ),
                )
            ).alias("item_list_md5"),
        )
        .select(
            "*",
            F.round(
                F.col("shard_bytes").cast("double") / SHARD_BYTE_BUDGET, 6
            ).alias("fill_frac"),
        )
        .orderBy("shard")
    )


MULTIMODAL_SHARD_ORACLE = f"""
    WITH n AS (
        SELECT doc_id, strlen(text) AS n_bytes,
               CASE WHEN doc_id % 3 = 0 THEN 'png' ELSE 'jpeg' END AS fmt
        FROM documents
    ),
    a AS (
        SELECT doc_id, n_bytes, fmt,
               (sum(n_bytes) OVER (ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) - n_bytes)
                   // {SHARD_BYTE_BUDGET} AS shard
        FROM n
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           count(*) AS n_items,
           CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc,
           CAST(sum(CASE WHEN fmt = 'png' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_png,
           CAST(sum(CASE WHEN fmt = 'jpeg' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_jpeg,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
               AS item_list_md5,
           round(CAST(sum(n_bytes) AS DOUBLE) / {SHARD_BYTE_BUDGET}, 6)
               AS fill_frac
    FROM a
    GROUP BY shard
    ORDER BY shard
"""


# ---------------------------------------------------------------------------
# Payload-size histogram per format -- the table the byte-budget shard
# packer (multimodal_shard_manifest) is sized from: per (fmt, power-of-two
# size class) counts, byte mass, and each class's share of the format's
# bytes.  Metadata-only (octet_length), the payload is never opened.
# Scale: one combinable groupBy over the media scan onto ~|fmt| x 64
# rows; per-format totals broadcast.
# ---------------------------------------------------------------------------


def multimodal_bytes_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_table(spark, sf_dir)
    keyed = media.select(
        "fmt",
        (F.length(F.bin(F.col("n_bytes") + 1)) - 1).cast("int").alias("bucket"),
        "n_bytes",
    )
    fmt_tot = keyed.groupBy("fmt").agg(
        F.sum("n_bytes").cast("bigint").alias("fmt_bytes")
    )
    return (
        keyed.groupBy("fmt", "bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_media"),
            F.sum("n_bytes").cast("bigint").alias("bucket_bytes"),
            F.min("n_bytes").alias("min_bytes"),
            F.max("n_bytes").alias("max_bytes"),
        )
        .join(F.broadcast(fmt_tot), "fmt")
        .select(
            "fmt",
            "bucket",
            "n_media",
            "bucket_bytes",
            "min_bytes",
            "max_bytes",
            F.round(
                F.col("bucket_bytes").cast("double") / F.col("fmt_bytes"), 6
            ).alias("byte_share"),
        )
        .orderBy("fmt", "bucket")
    )


MULTIMODAL_BYTES_HIST_ORACLE = """
    WITH media AS (
        SELECT CASE WHEN doc_id % 3 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
               CAST(strlen(text) AS BIGINT) AS n_bytes
        FROM documents
    ),
    keyed AS (
        SELECT fmt,
               CAST(length(printf('%b', n_bytes + 1)) - 1 AS INTEGER)
                   AS bucket,
               n_bytes
        FROM media
    ),
    fmt_tot AS (
        SELECT fmt, CAST(sum(n_bytes) AS BIGINT) AS fmt_bytes
        FROM keyed GROUP BY fmt
    )
    SELECT fmt, bucket,
           count(*) AS n_media,
           CAST(sum(n_bytes) AS BIGINT) AS bucket_bytes,
           min(n_bytes) AS min_bytes,
           max(n_bytes) AS max_bytes,
           round(CAST(sum(n_bytes) AS DOUBLE) / any_value(fmt_bytes), 6)
               AS byte_share
    FROM keyed JOIN fmt_tot USING (fmt)
    GROUP BY fmt, bucket
    ORDER BY fmt, bucket
"""


# Exact SQL oracle for the mapInPandas feature extraction (optimization
# round 13, VERDICT r12 item #1 -- the query was rows-only since its
# build round, which read as a driver failure whenever the correctness
# window sampled it).  Every emitted statistic is an integer aggregate
# of the payload's bytes: numpy's uint8 sum accumulates exact integers
# in float64 (each partial is an integer < 2^53 at any realistic payload
# size), so ``float(px.mean())`` equals one IEEE division of two exact
# integers -- the identical value DuckDB computes as
# CAST(sum AS DOUBLE) / CAST(count AS DOUBLE).  The payload is the UTF-8
# encoding of documents.text (media_table), so the oracle re-derives the
# byte stream from hex(text::BLOB) two hex digits at a time; byte >> 6
# is byte // 64 on non-negative ints.  Zero-byte payloads re-enter via
# the LEFT join with the (0, 0.0, 0, 0, 0, 0, 0) row the Python path
# emits for them.
MULTIMODAL_FEATURES_ORACLE = """
    WITH hx AS (
        SELECT doc_id, hex(CAST(text AS BLOB)) AS h,
               octet_length(CAST(text AS BLOB)) AS n
        FROM documents
    ),
    by_byte AS (
        SELECT doc_id,
               (instr('0123456789ABCDEF', substr(h, 2 * i - 1, 1)) - 1) * 16
                 + instr('0123456789ABCDEF', substr(h, 2 * i, 1)) - 1 AS byte
        FROM hx, unnest(range(1, n + 1)) t(i)
    ),
    agg AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bytes,
               CAST(sum(byte) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   AS mean_byte,
               CAST(max(byte) AS INTEGER) AS max_byte,
               CAST(sum(CASE WHEN byte // 64 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS hist_0,
               CAST(sum(CASE WHEN byte // 64 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS hist_1,
               CAST(sum(CASE WHEN byte // 64 = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS hist_2,
               CAST(sum(CASE WHEN byte // 64 = 3 THEN 1 ELSE 0 END)
                    AS BIGINT) AS hist_3
        FROM by_byte GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.n_bytes, 0) AS n_bytes,
           coalesce(a.mean_byte, 0.0) AS mean_byte,
           coalesce(a.max_byte, 0) AS max_byte,
           coalesce(a.hist_0, 0) AS hist_0,
           coalesce(a.hist_1, 0) AS hist_1,
           coalesce(a.hist_2, 0) AS hist_2,
           coalesce(a.hist_3, 0) AS hist_3
    FROM documents d LEFT JOIN agg a USING (doc_id)
"""


MULTIMODAL_QUERIES: list[tuple[str, object, str | None]] = [
    (
        "multimodal_simhash_neardup",
        multimodal_simhash_neardup,
        MM_SIMHASH_ORACLE,
    ),
    (
        "multimodal_bytes_histogram",
        multimodal_bytes_histogram,
        MULTIMODAL_BYTES_HIST_ORACLE,
    ),
    (
        "multimodal_shard_manifest",
        multimodal_shard_manifest,
        MULTIMODAL_SHARD_ORACLE,
    ),
    ("multimodal_features", multimodal_features, MULTIMODAL_FEATURES_ORACLE),
    ("multimodal_metadata", multimodal_metadata, MULTIMODAL_METADATA_ORACLE),
    ("multimodal_dedup", multimodal_dedup, MULTIMODAL_DEDUP_ORACLE),
    ("multimodal_chunk", multimodal_chunk, MULTIMODAL_CHUNK_ORACLE),
    ("multimodal_resize", multimodal_resize, MULTIMODAL_RESIZE_ORACLE),
    ("multimodal_frame_sample", multimodal_frame_sample, MULTIMODAL_FRAME_ORACLE),
]
