"""Multimodal columns: opaque binary blobs + typed metadata (NS mandate).

Model: image/audio/video payloads are ``BinaryType`` columns carrying a
small fixed header (magic, width, height, channels) followed by the
raw payload — the 100 TB pattern where media bytes live inline (or as
object-store pointers) beside typed metadata, and Spark plans never
interpret the payload except inside explicitly-vectorized UDFs.

Three tiers, mirroring how the reference treats sensor payloads
(opaque bytes until a fixed-offset decode — `iceberg-twist/main.py:60-81`):

1. header/metadata extraction — pure JVM expressions (substring +
   conv on BinaryType), predicate-pushdown friendly, oracle-checked;
2. feature extraction (byte statistics, frame sampling) — Arrow-batched
   ``mapInPandas`` over numpy views, never per-row Python;
3. real codec decode (JPEG/WAV/H.264) — STUBBED: the container has no
   image/audio libs; ``decode_image_real`` raises NotImplementedError
   unless PIL appears, while the Spark-side plumbing (schemas, batch
   shapes, partitioning) is real and tested against the deterministic
   synthetic format below.

Synthetic format "ITW1": magic 4B | width int16-LE | height int16-LE |
channels int8 | payload bytes (derived from document text).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iceberg_twist_spark.catalog import load_tables
from iceberg_twist_spark.common import r4
from iceberg_twist_spark.kernels import map_rows
from iceberg_twist_spark.registry import register

MAGIC = "ITW1"
HEADER_LEN = 9  # 4 magic + 2 width + 2 height + 1 channels


def _le_hex_int(col: Column, n_bytes: int) -> Column:
    """Little-endian hex of an int col (byte-reversed hex string)."""
    parts = [
        F.lpad(F.hex(F.shiftright(col, 8 * i).bitwiseAND(F.lit(255))), 2, "0")
        for i in range(n_bytes)
    ]
    return F.concat(*parts)


def build_media_table(docs: DataFrame) -> DataFrame:
    """Derive a deterministic media table from ``documents``.

    width = 16 + n_chars mod 240, height = 16 + doc_id mod 240,
    channels = 1 + doc_id mod 3, payload = the document's own utf-8
    bytes. Blob assembly is pure JVM expressions (concat over hex →
    unhex), so the fixture itself never leaves the executor JVM.
    """
    width = (F.lit(16) + F.col("n_chars") % 240).cast("int")
    height = (F.lit(16) + F.col("doc_id") % 240).cast("int")
    channels = (F.lit(1) + F.col("doc_id") % 3).cast("int")
    blob_hex = F.concat(
        F.hex(F.encode(F.lit(MAGIC), "utf-8")),
        _le_hex_int(width, 2),
        _le_hex_int(height, 2),
        _le_hex_int(channels, 1),
        F.hex(F.encode(F.col("text"), "utf-8")),
    )
    return docs.select(
        "doc_id",
        F.unhex(blob_hex).alias("media"),
        F.struct(
            width.alias("width"), height.alias("height"), channels.alias("channels")
        ).alias("meta"),
    )


def parse_header(media: Column) -> Column:
    """Typed header struct from the blob — JVM expressions only.

    ``substring`` on BinaryType slices bytes; int fields are rebuilt
    from little-endian bytes with conv(hex)·shifts. The same shape
    decodes the reference's int32@6 layout (A7) at any offset.
    """

    def le_int(start: int, n: int) -> Column:
        total = F.lit(0)
        for i in range(n):
            byte_hex = F.hex(F.substring(media, start + i, 1))
            total = total + F.conv(byte_hex, 16, 10).cast("long") * (1 << (8 * i))
        return total

    return F.struct(
        F.decode(F.substring(media, 1, 4), "utf-8").alias("magic"),
        le_int(5, 2).cast("int").alias("width"),
        le_int(7, 2).cast("int").alias("height"),
        le_int(9, 1).cast("int").alias("channels"),
        (F.octet_length(media) - HEADER_LEN).alias("payload_bytes"),
    )


_META_ORACLE = """
SELECT doc_id,
       'ITW1' AS magic,
       CAST(16 + n_chars % 240 AS INT) AS width,
       CAST(16 + doc_id % 240 AS INT) AS height,
       CAST(1 + doc_id % 3 AS INT) AS channels,
       CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
       TRUE AS valid
FROM documents
"""


@register("q_mm_metadata", oracle=_META_ORACLE, tags=("multimodal",))
def q_mm_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip: build media blobs, parse headers back JVM-side, and
    validate the magic (frame validation, A35). Every decoded field
    must equal a direct SQL derivation from the source columns."""
    docs = load_tables(spark, sf_dir)["documents"]
    media = build_media_table(docs)
    h = parse_header(F.col("media"))
    return media.select(
        "doc_id",
        h.magic.alias("magic"),
        h.width.alias("width"),
        h.height.alias("height"),
        h.channels.alias("channels"),
        h.payload_bytes.alias("payload_bytes"),
        (h.magic == MAGIC).alias("valid"),
    )


_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("mean_byte", T.DoubleType()),
        T.StructField("max_byte", T.IntegerType()),
        T.StructField("n_distinct_bytes", T.IntegerType()),
    ]
)


def extract_byte_features(media_df: DataFrame) -> DataFrame:
    """Payload byte statistics via Arrow-batched mapInPandas + numpy.

    The UDF sees columnar batches; each blob becomes a zero-copy numpy
    uint8 view. This is the plumbing a real image-embedding or
    audio-fingerprint stage plugs into — swap the numpy body for the
    codec call."""

    def byte_features(doc_id, blob):
        payload = np.frombuffer(bytes(blob), dtype=np.uint8)[HEADER_LEN:]
        yield (
            doc_id,
            float(payload.mean()) if payload.size else 0.0,
            int(payload.max()) if payload.size else 0,
            int(np.unique(payload).size),
        )

    return map_rows(media_df, ["doc_id", "media"], byte_features, _FEATURE_SCHEMA)


_BYTE_FEATURES_ORACLE = """
WITH b AS (
    SELECT doc_id, ascii(substr(text, CAST(t.i AS INT), 1)) AS v
    FROM documents, LATERAL unnest(range(1, CAST(n_chars + 1 AS BIGINT))) AS t(i)
)
SELECT doc_id,
       floor(avg(v) * 10000 + 0.5) / 10000 AS mean_byte,
       CAST(max(v) AS INT) AS max_byte,
       CAST(count(DISTINCT v) AS INT) AS n_distinct_bytes
FROM b GROUP BY doc_id
"""


@register("q_mm_byte_features", oracle=_BYTE_FEATURES_ORACLE, tags=("multimodal", "udf"))
def q_mm_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level feature extraction over media blobs, hash-checked:
    the payload is the document's own ASCII text, so every numpy
    statistic is re-derivable byte-for-byte in SQL (round-3 upgrade
    from rows-only — avg over exact integer byte sums is
    order-proof)."""
    docs = load_tables(spark, sf_dir)["documents"]
    media = build_media_table(docs)
    feats = extract_byte_features(media)
    return feats.select(
        "doc_id", r4("mean_byte").alias("mean_byte"), "max_byte", "n_distinct_bytes"
    )


FRAME_BYTES = 32


_FRAME_ORACLE = f"""
SELECT doc_id, CAST(frame_no AS BIGINT) AS frame_no,
       hex(CAST(substr(text, CAST(frame_no * {FRAME_BYTES} + 1 AS INT), {FRAME_BYTES}) AS BLOB)) AS frame_hex
FROM (
  SELECT doc_id, text,
         unnest(range(0, CAST(ceil(length(text) / {FRAME_BYTES}.0) AS INT), 4)) AS frame_no
  FROM documents
)
"""


@register("q_mm_frame_sample", oracle=_FRAME_ORACLE, tags=("multimodal",))
def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Video' frame sampling: treat the payload as fixed-32-byte
    frames, keep every 4th — sequence + substring on BinaryType,
    exploded JVM-side; no Python in the plan."""
    docs = load_tables(spark, sf_dir)["documents"]
    media = build_media_table(docs)
    payload = F.expr(f"substring(media, {HEADER_LEN + 1}, octet_length(media))")
    n_frames = F.ceil((F.octet_length(media.media) - HEADER_LEN) / F.lit(FRAME_BYTES))
    frame_nos = F.sequence(F.lit(0), (n_frames - 1).cast("int"), F.lit(4))
    exploded = media.select(
        "doc_id", payload.alias("payload"), F.explode(frame_nos).alias("frame_no")
    )
    frame = F.expr(f"substring(payload, frame_no * {FRAME_BYTES} + 1, {FRAME_BYTES})")
    return exploded.select(
        "doc_id",
        F.col("frame_no").cast("long").alias("frame_no"),
        F.hex(frame).alias("frame_hex"),
    )


RESIZE_OUT_BYTES = 16


_RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("resized_hex", T.StringType()),
    ]
)


def resize_decimate(media_df: DataFrame, out_bytes: int = RESIZE_OUT_BYTES) -> DataFrame:
    """'Resize' every payload to a fixed byte budget by decimation.

    Sample j of the output is payload[floor(j * n / out_bytes)] — the
    nearest-neighbor downscale a real image resize generalizes. Stands
    in for the thumbnail/preview stage of a media pipeline: same
    mapInPandas batch shape, same fixed-size output contract a
    downstream embedding model needs. Deterministic, exact-tested.
    """

    def resize(doc_id, blob):
        payload = np.frombuffer(bytes(blob), dtype=np.uint8)[HEADER_LEN:]
        if payload.size:
            resized = payload[(np.arange(out_bytes) * payload.size) // out_bytes]
        else:
            resized = np.zeros(out_bytes, dtype=np.uint8)
        yield doc_id, resized.tobytes().hex().upper()

    return map_rows(media_df, ["doc_id", "media"], resize, _RESIZE_SCHEMA)


_RESIZE_ORACLE = f"""
SELECT doc_id,
       upper(string_agg(
           printf('%02x', ascii(substr(text,
               CAST((t.i * n_chars) // {RESIZE_OUT_BYTES} + 1 AS INT), 1))),
           '' ORDER BY t.i)) AS resized_hex
FROM documents, LATERAL unnest(range(0, {RESIZE_OUT_BYTES})) AS t(i)
GROUP BY doc_id
"""


@register("q_mm_resize", oracle=_RESIZE_ORACLE, tags=("multimodal", "udf"))
def q_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-budget decimation resize of every media blob, hash-checked
    against a positional SQL derivation of the same sample indices
    (round-3 upgrade from rows-only)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return resize_decimate(build_media_table(docs))


AUDIO_WIN = 64
AUDIO_HOP = 32


_ENERGY_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("win_no", T.LongType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def audio_energy(
    media_df: DataFrame, win: int = AUDIO_WIN, hop: int = AUDIO_HOP
) -> DataFrame:
    """Overlapping-window RMS energy over the payload ('audio' framing).

    Treats payload bytes as unsigned samples; window w covers
    ``[w*hop, w*hop + win)`` (last partial window kept). This is the
    short-time-energy front half of VAD/fingerprinting — swap the RMS
    for an FFT and the plumbing (batch shape, one output row per
    window, vectorized numpy body) is unchanged.
    """

    def energy(doc_id, blob):
        samples = np.frombuffer(bytes(blob), dtype=np.uint8)[HEADER_LEN:].astype(np.float64)
        for w, start in enumerate(range(0, samples.size, hop)):
            chunk = samples[start : start + win]
            yield doc_id, w, float(np.sqrt(np.mean(chunk**2)))

    return map_rows(media_df, ["doc_id", "media"], energy, _ENERGY_SCHEMA)


_AUDIO_ENERGY_ORACLE = f"""
WITH b AS (
    SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
           ascii(substr(text, CAST(t.i + 1 AS INT), 1)) AS v
    FROM documents, LATERAL unnest(range(0, n_chars)) AS t(i)
), wins AS (
    -- every byte belongs to window pos//hop and (window exists) the
    -- one before it: hop {AUDIO_HOP}, win {AUDIO_WIN} = 2·hop
    SELECT doc_id, pos // {AUDIO_HOP} AS win_no, v FROM b
    UNION ALL
    SELECT doc_id, pos // {AUDIO_HOP} - 1 AS win_no, v FROM b
    WHERE pos // {AUDIO_HOP} >= 1
)
SELECT doc_id, CAST(win_no AS BIGINT) AS win_no,
       floor(sqrt(avg(v * v)) * 10000 + 0.5) / 10000 AS rms
FROM wins GROUP BY doc_id, win_no
"""


@register("q_mm_audio_energy", oracle=_AUDIO_ENERGY_ORACLE, tags=("multimodal", "udf"))
def q_mm_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Short-time RMS energy per overlapping payload window,
    hash-checked: each byte maps to exactly its two covering windows
    in SQL, and the RMS derives from exact integer v² sums (round-3
    upgrade from rows-only)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return audio_energy(build_media_table(docs)).select(
        "doc_id", "win_no", r4("rms").alias("rms")
    )


def decode_image_real(media_df: DataFrame) -> DataFrame:
    """Real-codec decode — STUB (no image libraries in this container).

    Keeps the production signature: blob → (doc_id, height, width,
    mode). When PIL is installed the mapInPandas body below activates
    unchanged; until then calling this raises NotImplementedError.
    """
    try:
        from PIL import Image  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "real image decode requires PIL/Pillow, which is not installed; "
            "use extract_byte_features/parse_header for codec-free paths"
        ) from exc

    import io

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("mode", T.StringType()),
        ]
    )

    def pil_decode(doc_id, blob):  # pragma: no cover - needs PIL
        from PIL import Image

        img = Image.open(io.BytesIO(bytes(blob)[HEADER_LEN:]))
        yield doc_id, img.height, img.width, img.mode

    return map_rows(media_df, ["doc_id", "media"], pil_decode, schema)


# ---------------------------------------------------------- real codec
# Tier 3 without the library gate: P6 PPM is a real, standard image
# format simple enough to encode JVM-side and decode with numpy alone —
# so ONE codec path runs for real in this container (and is
# hash-checked against a byte-level SQL derivation), while
# decode_image_real above stays PIL-gated for compressed formats.

_PPM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
    ]
)


def build_ppm_table(docs: DataFrame) -> DataFrame:
    """Deterministic REAL P6 PPM images: 'P6\\n{w} {h}\\n255\\n' + w·h·3
    pixel bytes cycled from md5(doc_id) hex (ASCII ⇒ byte == char, so
    the blob is constructible with pure JVM string expressions)."""
    return (
        docs.select(
            "doc_id",
            (F.lit(8) + F.col("doc_id") % 8).cast("int").alias("width"),
            (F.lit(8) + F.col("n_chars") % 8).cast("int").alias("height"),
            F.md5(F.col("doc_id").cast("string")).alias("hx"),
        )
        .withColumn("n_px", F.col("width") * F.col("height") * 3)
        .withColumn(
            "pixels",
            F.expr("substr(repeat(hx, cast(ceil(n_px / 32.0) as int)), 1, n_px)"),
        )
        .select(
            "doc_id",
            F.encode(
                F.concat(
                    F.lit("P6\n"),
                    F.col("width").cast("string"),
                    F.lit(" "),
                    F.col("height").cast("string"),
                    F.lit("\n255\n"),
                    F.col("pixels"),
                ),
                "utf-8",
            ).alias("media"),
        )
    )


def decode_ppm(media_df: DataFrame) -> DataFrame:
    """Genuine PPM decode (numpy, no image libraries): parse the P6
    header from the bytes, reshape the raw pixel block to (h, w, 3),
    and reduce per-channel means — Arrow-batched ``mapInPandas``,
    the exact plumbing a JPEG decode would use with PIL present."""
    import re

    header_re = re.compile(rb"^P6\s+(\d+)\s+(\d+)\s+(\d+)\s")

    def ppm_stats(doc_id, blob):
        raw = bytes(blob)
        m = header_re.match(raw)
        if m is None:
            return  # not a P6 image — skip, don't crash the task
        w, h, maxval = (int(g) for g in m.groups())
        px = np.frombuffer(raw[m.end():], dtype=np.uint8)
        if maxval != 255 or px.size != w * h * 3:
            return
        means = px.reshape(h, w, 3).astype(np.float64).mean(axis=(0, 1))
        yield doc_id, w, h, float(means[0]), float(means[1]), float(means[2])

    return map_rows(media_df, ["doc_id", "media"], ppm_stats, _PPM_SCHEMA)


_PPM_ORACLE = """
WITH m AS (
    SELECT doc_id,
           CAST(8 + doc_id % 8 AS INT) AS width,
           CAST(8 + n_chars % 8 AS INT) AS height,
           md5(CAST(doc_id AS VARCHAR)) AS hx
    FROM documents
), px AS (
    SELECT doc_id, width, height,
           substr(repeat(hx, CAST(ceil((width*height*3) / 32.0) AS INT)),
                  1, width*height*3) AS s
    FROM m
), b AS (
    SELECT doc_id, width, height, CAST(t.i % 3 AS INT) AS ch,
           ascii(substr(s, CAST(t.i + 1 AS INT), 1)) AS v
    FROM px, LATERAL unnest(range(0, CAST(width*height*3 AS BIGINT))) AS t(i)
)
SELECT doc_id, width, height,
       floor(avg(v) FILTER (WHERE ch=0) * 10000 + 0.5)/10000 AS mean_r,
       floor(avg(v) FILTER (WHERE ch=1) * 10000 + 0.5)/10000 AS mean_g,
       floor(avg(v) FILTER (WHERE ch=2) * 10000 + 0.5)/10000 AS mean_b
FROM b GROUP BY doc_id, width, height
"""


# ------------------------------------------------- perceptual hashing
# Image near-dup detection: an average-hash (aHash) fingerprint over
# every image's pixel stream, then Hamming-distance pairing — the
# multimodal counterpart of MinHash/SimHash text dedup. The fixture
# plants near-duplicates (groups of 4 docs share one md5 pixel stream,
# variants perturb 2 chars) so the pairing has real structure.

PHASH_W = PHASH_H = 16
PHASH_STREAM = PHASH_W * PHASH_H * 3  # 768 pixel bytes
PHASH_BITS = 64
# ≤3 bit errors over 4 sixteen-bit bands → pigeonhole-complete (3
# errors cannot touch all 4 bands). r7: was ≤7 over 8 byte-bands —
# the same quadratic wall the r6 corpus rehearsal caught in SimHash:
# 8-bit bands give 256 buckets/band, which at the 1M-blob corpus twin
# is ~3.9k docs per bucket and ~15G candidate pairs (never finishes);
# 16-bit bands give 65536, keeping buckets ~15 docs at 1M. The
# planted variants sit at Hamming 0–2, inside the tightened radius.
PHASH_MAX_HAMMING = 3


def build_phash_media(docs: DataFrame) -> DataFrame:
    """Deterministic 16×16 P6 PPMs with PLANTED near-duplicates:
    groups of 4 consecutive doc_ids share the pixel stream of
    md5(doc_id div 4); variants v=1..3 overwrite 2 chars at position
    7·v. Pure JVM string expressions, like the other media fixtures."""
    # chained md5 blocks, NOT repeat(): a periodic stream aliases with
    # the evenly-spaced sample positions (stride 12 over period 32 hits
    # only 8 distinct chars) and collapses the hash to 8 effective bits
    base_sql = (
        f"substr(array_join(transform(sequence(0, {PHASH_STREAM // 32}), "
        f"j -> md5(concat(cast(doc_id div 4 as string), ':', cast(j as string)))), ''), "
        f"1, {PHASH_STREAM})"
    )
    v = F.col("doc_id") % 4
    # overlay 'zz' at 1-based position 12·v + 1 — position 12·v
    # (0-based) IS a sample point, so variants sit at Hamming ≈ 0–2
    # from their base: close enough to pair, visible in the distance
    perturbed = F.when(v == 0, F.expr(base_sql)).otherwise(
        F.concat(
            F.expr(f"substr({base_sql}, 1, cast((doc_id % 4) * 12 as int))"),
            F.lit("zz"),
            F.expr(f"substr({base_sql}, cast((doc_id % 4) * 12 + 3 as int))"),
        )
    )
    return docs.select(
        "doc_id",
        F.encode(
            F.concat(F.lit(f"P6\n{PHASH_W} {PHASH_H}\n255\n"), perturbed), "utf-8"
        ).alias("media"),
    )


_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("h1", T.LongType()),
        T.StructField("h2", T.LongType()),
    ]
)


def decode_phash(media_df: DataFrame) -> DataFrame:
    """aHash over the decoded pixel stream (numpy, Arrow-batched):
    sample 64 evenly-spaced payload bytes, threshold each against the
    integer mean, pack the bits into two 32-bit halves (avoids int64
    sign games in cross-engine XOR). Same mapInPandas plumbing as the
    PPM/WAV decoders."""
    import re

    header_re = re.compile(rb"^P6\s+(\d+)\s+(\d+)\s+(\d+)\s")

    def phash(doc_id, blob):
        raw = bytes(blob)
        m = header_re.match(raw)
        if m is None:
            return
        w, h, _ = (int(g) for g in m.groups())
        px = np.frombuffer(raw[m.end():], dtype=np.uint8)
        n = w * h * 3
        if px.size != n:
            return
        sampled = px[(np.arange(PHASH_BITS) * n) // PHASH_BITS].astype(np.int64)
        bits = sampled > int(sampled.sum()) // PHASH_BITS
        h1 = int(sum(1 << i for i in range(32) if bits[i]))
        h2 = int(sum(1 << (i - 32) for i in range(32, 64) if bits[i]))
        yield doc_id, h1, h2

    return map_rows(media_df, ["doc_id", "media"], phash, _PHASH_SCHEMA)


# the oracle recomputes the perturbed stream and the aHash from first
# principles (constant sample positions — w/h are fixture constants)
_PHASH_BASE_SQL = (
    f"substr(array_to_string(list_transform(range(0, {PHASH_STREAM // 32 + 1}), "
    f"j -> md5(CAST(doc_id // 4 AS VARCHAR) || ':' || CAST(j AS VARCHAR))), ''), "
    f"1, {PHASH_STREAM})"
)

_PHASH_STREAM_SQL = f"""
CASE WHEN doc_id % 4 = 0
     THEN {_PHASH_BASE_SQL}
     ELSE substr({_PHASH_BASE_SQL}, 1, CAST((doc_id % 4) * 12 AS INT))
          || 'zz'
          || substr({_PHASH_BASE_SQL}, CAST((doc_id % 4) * 12 + 3 AS INT))
END
"""

_PHASH_ORACLE = f"""
WITH img AS (
    SELECT doc_id, ({_PHASH_STREAM_SQL}) AS s FROM documents
), sampled AS (
    SELECT doc_id, t.i,
           ascii(substr(s, CAST((t.i * {PHASH_STREAM}) // {PHASH_BITS} + 1 AS INT), 1)) AS b
    FROM img, LATERAL unnest(range(0, {PHASH_BITS})) AS t(i)
), withmean AS (
    SELECT doc_id, i, b,
           sum(b) OVER (PARTITION BY doc_id) // {PHASH_BITS} AS mean
    FROM sampled
)
SELECT doc_id,
       CAST(sum(CASE WHEN b > mean AND i < 32
                     THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS h1,
       CAST(sum(CASE WHEN b > mean AND i >= 32
                     THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT) AS h2
FROM withmean GROUP BY doc_id
"""


@register("q_mm_phash", oracle=_PHASH_ORACLE, tags=("multimodal", "udf", "dedup"))
def q_mm_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual fingerprint round trip: build the planted-duplicate
    PPM fixture, decode each image's aHash with numpy, hash-check the
    (h1, h2) fingerprints against a byte-level SQL derivation."""
    from iceberg_twist_spark.common import spread

    docs = spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    return decode_phash(build_phash_media(docs))


_PHASH_DEDUP_ORACLE = f"""
WITH ph AS ({_PHASH_ORACLE})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) AS BIGINT)
           AS hamming
FROM ph a JOIN ph b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.h1, b.h1)) + bit_count(xor(a.h2, b.h2)) <= {PHASH_MAX_HAMMING}
"""


@register("q_mm_phash_dedup", oracle=_PHASH_DEDUP_ORACLE, tags=("multimodal", "dedup"))
def q_mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs: Hamming ≤ {PHASH_MAX_HAMMING} over the
    64-bit aHash. Candidates come from a 4-way 16-bit-band join —
    pigeonhole-complete (≤3 bit errors cannot touch all 4 bands, so
    every qualifying pair shares at least one exact band) — then exact
    Hamming verification. The oracle's all-pairs form is the
    correctness baseline; the banded join is the 100 TB path (same
    shape as MinHash banding). Band width is the scale knob: 16-bit
    bands keep bucket occupancy |corpus|/65536 (~15 docs at the
    1M-blob corpus twin) where the former 8-bit bands hit the same
    quadratic bucket wall the r6 rehearsal caught in SimHash."""
    from iceberg_twist_spark.common import spread

    docs = spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    ph = decode_phash(build_phash_media(docs)).localCheckpoint(eager=False)
    bands = ph.select(
        "doc_id", "h1", "h2",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("band"),
                    F.shiftright(F.col("h1" if j < 2 else "h2"), (j % 2) * 16)
                    .bitwiseAND(F.lit(65535)).alias("val"),
                )
                for j in range(4)
            ])
        ).alias("bv"),
    ).select("doc_id", "h1", "h2", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("h1").alias("h1a"),
        F.col("h2").alias("h2a"), "band", "val",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("h1").alias("h1b"),
        F.col("h2").alias("h2b"), "band", "val",
    )
    hamming = (
        F.bit_count(F.col("h1a").bitwiseXOR(F.col("h1b")))
        + F.bit_count(F.col("h2a").bitwiseXOR(F.col("h2b")))
    )
    return (
        a.join(b, ["band", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= PHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))
    )


# ------------------------------------------------------ real audio codec
# Tier 3b: WAV/PCM16 is the audio analogue of the PPM path — a real,
# standard container simple enough to encode JVM-side (44-byte RIFF
# header + little-endian int16 samples) and decode with numpy alone.
# The sample decode is the reference's own trick: int16 little-endian
# frombuffer at a fixed offset (`iceberg-twist/main.py:77-81` reads
# its sensor payload exactly this way).

WAV_SAMPLE_RATE = 8000

_WAV_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("duration_ms", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.LongType()),
    ]
)


def build_wav_table(docs: DataFrame) -> DataFrame:
    """Deterministic REAL mono PCM16 WAV clips: canonical 44-byte RIFF
    header + n samples, n = 64 + doc_id mod 64, sample i =
    int16((doc_id·7919 + i·104729) mod 2^16). Assembly is pure JVM
    expressions (hex concat → unhex), like the other media fixtures."""

    def le_lit_hex(v: int, n_bytes: int) -> str:
        return v.to_bytes(n_bytes, "little").hex().upper()

    n_samples = (F.lit(64) + F.col("doc_id") % 64).cast("int")
    data_size = (n_samples * 2).cast("int")
    header_hex = F.concat(
        F.hex(F.encode(F.lit("RIFF"), "utf-8")),
        _le_hex_int(F.lit(36) + data_size, 4),
        F.hex(F.encode(F.lit("WAVEfmt "), "utf-8")),
        F.lit(le_lit_hex(16, 4)),                    # fmt chunk size
        F.lit(le_lit_hex(1, 2)),                     # PCM
        F.lit(le_lit_hex(1, 2)),                     # mono
        F.lit(le_lit_hex(WAV_SAMPLE_RATE, 4)),       # sample rate
        F.lit(le_lit_hex(WAV_SAMPLE_RATE * 2, 4)),   # byte rate
        F.lit(le_lit_hex(2, 2)),                     # block align
        F.lit(le_lit_hex(16, 2)),                    # bits/sample
        F.hex(F.encode(F.lit("data"), "utf-8")),
        _le_hex_int(data_size, 4),
    )
    samples_hex = F.expr(
        """
        array_join(transform(sequence(0, cast(64 + doc_id % 64 as int) - 1, 1),
          i -> concat(
            lpad(hex(((doc_id*7919 + i*104729) % 65536) % 256), 2, '0'),
            lpad(hex(((doc_id*7919 + i*104729) % 65536) div 256), 2, '0'))), '')
        """
    )
    return docs.select(
        "doc_id", F.unhex(F.concat(header_hex, samples_hex)).alias("media")
    )


def decode_wav(media_df: DataFrame) -> DataFrame:
    """Genuine WAV/PCM16 decode (numpy, no audio libraries): validate
    the RIFF/WAVE/fmt/data layout, read the format fields, and view the
    sample block as little-endian int16 — per-clip duration, RMS and
    peak. Arrow-batched ``mapInPandas``; the exact plumbing a real
    audio-feature stage (VAD, fingerprint, mel filterbank) plugs into."""

    def wav_stats(doc_id, blob):
        raw = bytes(blob)
        if len(raw) < 44 or raw[0:4] != b"RIFF" or raw[8:12] != b"WAVE":
            return  # not a WAV — skip, don't crash the task
        audio_format = int(np.frombuffer(raw[20:22], "<u2")[0])
        n_channels = int(np.frombuffer(raw[22:24], "<u2")[0])
        sample_rate = int(np.frombuffer(raw[24:28], "<u4")[0])
        bits = int(np.frombuffer(raw[34:36], "<u2")[0])
        data_size = int(np.frombuffer(raw[40:44], "<u4")[0])
        if audio_format != 1 or bits != 16 or raw[36:40] != b"data":
            return
        # A truncated data chunk (header claims more bytes than the
        # blob holds, or an odd byte count) must skip like the other
        # malformed-blob guards, not crash the task on a misaligned
        # int16 view.
        data_size = min(data_size, len(raw) - 44) & ~1
        samples = np.frombuffer(raw[44 : 44 + data_size], dtype="<i2").astype(np.float64)
        n = samples.size // max(n_channels, 1)
        yield (
            doc_id, n_channels, sample_rate, n, n * 1000.0 / sample_rate,
            float(np.sqrt(np.mean(samples**2))) if samples.size else 0.0,
            int(np.abs(samples).max()) if samples.size else 0,
        )

    return map_rows(media_df, ["doc_id", "media"], wav_stats, _WAV_SCHEMA)


_WAV_ORACLE = f"""
WITH m AS (
    SELECT doc_id, CAST(64 + doc_id % 64 AS INT) AS n FROM documents
), s AS (
    SELECT doc_id, n, (doc_id*7919 + t.i*104729) % 65536 AS v
    FROM m, LATERAL unnest(range(0, CAST(n AS BIGINT))) AS t(i)
), sg AS (
    SELECT doc_id, n, CASE WHEN v >= 32768 THEN v - 65536 ELSE v END AS smp
    FROM s
)
SELECT doc_id,
       CAST(1 AS INT) AS n_channels,
       CAST({WAV_SAMPLE_RATE} AS INT) AS sample_rate,
       CAST(n AS INT) AS n_samples,
       floor((n * 1000.0 / {WAV_SAMPLE_RATE}) * 10000 + 0.5)/10000 AS duration_ms,
       floor(sqrt(avg(smp*smp)) * 10000 + 0.5)/10000 AS rms,
       CAST(max(abs(smp)) AS BIGINT) AS peak
FROM sg GROUP BY doc_id, n
"""


@register("q_mm_wav_stats", oracle=_WAV_ORACLE, tags=("multimodal", "udf"))
def q_mm_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-format audio round trip: encode every document as an actual
    mono PCM16 WAV (JVM expressions build the RIFF container), decode
    it with the numpy parser (header validation + ``<i2`` sample view —
    the reference's own int16 decode trick, `iceberg-twist/main.py:77-81`),
    and hash-check duration/RMS/peak against a first-principles SQL
    derivation of the same samples. Audio joins PPM as a tier-3 codec
    that runs for real with zero library dependencies."""
    from iceberg_twist_spark.common import spread

    docs = spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    decoded = decode_wav(build_wav_table(docs))
    return decoded.select(
        "doc_id", "n_channels", "sample_rate", "n_samples",
        r4("duration_ms").alias("duration_ms"),
        r4("rms").alias("rms"),
        "peak",
    )


@register("q_mm_ppm_decode", oracle=_PPM_ORACLE, tags=("multimodal", "udf"))
def q_mm_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-format codec round trip: encode every document as an actual
    P6 PPM image (JVM expressions), decode it with the numpy PPM parser
    (header parse + reshape + channel means), hash-check the decoded
    dimensions and per-channel means against a byte-level SQL
    derivation. Proves the tier-3 decode path end-to-end on a standard
    format with zero library dependencies."""
    from iceberg_twist_spark.common import spread

    docs = spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    decoded = decode_ppm(build_ppm_table(docs))
    return decoded.select(
        "doc_id", "width", "height",
        r4("mean_r").alias("mean_r"),
        r4("mean_g").alias("mean_g"),
        r4("mean_b").alias("mean_b"),
    )


# ------------------------------------------------------------ PNG (r5)
# Tier 3, compressed-container edition: PNG is DEFLATE inside CRC'd
# chunks, and CPython ships zlib — so a real compressed image format is
# decodable here with no third-party libs, shrinking the PIL gap to
# JPEG/FLAC. Two independent construction paths feed ONE decoder:
#
# - build_png_table: the PNG is assembled ENTIRELY with JVM
#   expressions — stored (BTYPE=00) DEFLATE block, Adler-32 as a HOF
#   aggregate over the scanline bytes, chunk CRCs via F.crc32. The
#   Python decoder then inflates with zlib (which independently
#   re-verifies that JVM Adler-32) and re-checks every chunk CRC with
#   zlib.crc32 against the JVM-computed values — a genuine
#   cross-implementation check, same spirit as the serial connector's
#   crc recompute (sources/serial_source.py).
# - encode_png (q_mm_png_filters): a vectorized numpy encoder that
#   exercises ALL FIVE scanline filters (row r uses filter r % 5) and
#   real zlib compression; the decoder reverses the filters with an
#   independent sequential reconstruction.
#
# Both paths carry the SAME md5-derived pixel stream as the PPM
# fixture, so _PPM_ORACLE's byte-level arithmetic is the shared oracle:
# three containers (PPM, stored-PNG, filtered-PNG), one ground truth.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_SCHEMA = _PPM_SCHEMA


def _be4(col: Column) -> Column:
    """int column -> 4-byte big-endian binary."""
    return F.unhex(F.lpad(F.hex(col), 8, "0"))


def _le2(col: Column) -> Column:
    """int column (< 2^16) -> 2-byte little-endian binary."""
    h = F.lpad(F.hex(col), 4, "0")
    return F.unhex(F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2)))


def build_png_table(docs: DataFrame) -> DataFrame:
    """Real PNG files (8-bit RGB, stored-DEFLATE) built with pure JVM
    expressions: signature + IHDR + one IDAT (zlib header, one stored
    block, Adler-32) + IEND, pixel bytes cycled from md5(doc_id) hex
    exactly like build_ppm_table. Scanlines use filter 0, so the
    filtered stream is NUL + 3w pixel chars per row — constructible as
    a string (every byte < 0x80, utf-8 encode is byte-identity)."""
    d = (
        docs.select(
            "doc_id",
            (F.lit(8) + F.col("doc_id") % 8).cast("int").alias("w"),
            (F.lit(8) + F.col("n_chars") % 8).cast("int").alias("h"),
            F.md5(F.col("doc_id").cast("string")).alias("hx"),
        )
        .withColumn("n_px", F.col("w") * F.col("h") * 3)
        .withColumn(
            "pixels",
            F.expr("substr(repeat(hx, cast(ceil(n_px / 32.0) as int)), 1, n_px)"),
        )
        # filter-0 scanlines: one NUL filter byte + the row's 3w chars
        .withColumn(
            "raw_str",
            F.expr(
                "aggregate(sequence(0, h - 1), '', "
                "(acc, r) -> acc || chr(0) || substr(pixels, r * 3 * w + 1, 3 * w))"
            ),
        )
        .withColumn("raw_len", F.col("h") * (F.lit(3) * F.col("w") + F.lit(1)))
        # Adler-32 over the filtered stream, CLOSED FORM (r12, guide
        # §4.2 "make the per-element work cheap"): the running-sum
        # definition (s1_i = 1 + Σ_{j≤i} b_j; s2 = Σ_i s1_i) telescopes
        # to s1 = (1 + Σ b_j) mod 65521 and s2 = (n + Σ (n−j+1)·b_j)
        # mod 65521. The former per-BYTE struct fold evaluated
        # ascii(substr(...)) TWICE per byte plus two mods and a struct
        # allocation — ~10⁹ interpreted ops at the 1M-doc twin; this
        # form materializes the byte array once and runs two flat long
        # folds. The deferred mod is exact: raw_len ≤ 15·(3·15+1) and
        # bytes ≤ 122, so Σ (n−j+1)·b_j < 2³⁶ ≪ 2⁶³. Same bits out —
        # the decoder's zlib re-verification and the byte-level oracle
        # pin it.
        .withColumn(
            "bytes_arr",
            F.expr("transform(sequence(1, raw_len), i -> "
                   "cast(ascii(substr(raw_str, i, 1)) as bigint))"),
        )
        .withColumn(
            "adler",
            F.expr(
                "((raw_len + aggregate(zip_with(bytes_arr, "
                "sequence(cast(raw_len as bigint), 1L, -1L), "
                "(b, w) -> b * w), 0L, (acc, x) -> acc + x)) % 65521) "
                "* 65536 + "
                "(1 + aggregate(bytes_arr, 0L, (acc, x) -> acc + x)) % 65521"
            ),
        )
    )
    ihdr_data = F.concat(
        _be4(F.col("w")), _be4(F.col("h")), F.unhex(F.lit("0802000000"))
    )
    ihdr_typ = F.encode(F.lit("IHDR"), "utf-8")
    ihdr = F.concat(
        F.unhex(F.lit("0000000d")),
        ihdr_typ,
        ihdr_data,
        _be4(F.crc32(F.concat(ihdr_typ, ihdr_data))),
    )
    idat_data = F.concat(
        F.unhex(F.lit("7801")),  # zlib header: deflate, 32k window
        F.unhex(F.lit("01")),  # final stored block
        _le2(F.col("raw_len")),
        _le2(F.lit(65535) - F.col("raw_len")),  # NLEN = ones' complement
        F.encode("raw_str", "utf-8"),
        _be4(F.col("adler")),
    )
    idat_typ = F.encode(F.lit("IDAT"), "utf-8")
    idat = F.concat(
        _be4(F.col("raw_len") + F.lit(11)),
        idat_typ,
        idat_data,
        _be4(F.crc32(F.concat(idat_typ, idat_data))),
    )
    iend = F.unhex(F.lit("0000000049454e44ae426082"))
    return d.select(
        "doc_id",
        F.concat(F.lit(_PNG_SIG), ihdr, idat, iend).alias("media"),
    )


def _paeth_vec(a, b, c):
    """Vectorized Paeth predictor (RFC 2083 §6.6) over int arrays."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def encode_png(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 array as a real PNG, scanline r using
    filter r % 5 — every filter type (None/Sub/Up/Average/Paeth) is
    exercised — then zlib-compressed. Vectorized: filter predictions
    come straight from the ORIGINAL pixel bytes (the spec's reference
    data for encoding), no per-pixel Python."""
    import struct
    import zlib

    h, w, bpp = pixels.shape
    px = pixels.astype(np.int32)
    flat = px.reshape(h, w * bpp)
    zeros = np.zeros((1, w * bpp), dtype=np.int32)
    up = np.vstack([zeros, flat[:-1]])  # b: pixel above
    left = np.zeros_like(flat)  # a: pixel bpp bytes left
    left[:, bpp:] = flat[:, :-bpp]
    upleft = np.zeros_like(flat)  # c: above-left
    upleft[:, bpp:] = up[:, :-bpp]
    preds = {
        0: np.zeros_like(flat),
        1: left,
        2: up,
        3: (left + up) // 2,
        4: _paeth_vec(left, up, upleft),
    }
    out = bytearray()
    for r in range(h):
        ft = r % 5
        out.append(ft)
        out += bytes(((flat[r] - preds[ft][r]) & 0xFF).astype(np.uint8))
    raw = zlib.compress(bytes(out), 6)

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ihdr = chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
    return _PNG_SIG + ihdr + chunk(b"IDAT", raw) + chunk(b"IEND", b"")


def png_unfilter(stream: bytes, w: int, h: int, bpp: int = 3) -> np.ndarray:
    """Reverse PNG scanline filtering -> (h, w, bpp) uint8. Filters
    0/2 reconstruct vectorized; 1/3/4 depend on the just-reconstructed
    left pixel, so they walk the scanline sequentially — deliberately a
    DIFFERENT formulation from encode_png's vectorized
    predict-from-original, so an encoder spec error can't silently
    cancel against the decoder."""
    stride = w * bpp
    out = np.zeros((h, stride), dtype=np.int32)
    pos = 0
    for r in range(h):
        ft = stream[pos]
        pos += 1
        x = np.frombuffer(stream[pos : pos + stride], dtype=np.uint8).astype(np.int32)
        pos += stride
        prev = out[r - 1] if r else np.zeros(stride, dtype=np.int32)
        if ft == 0:
            out[r] = x
        elif ft == 2:
            out[r] = (x + prev) & 0xFF
        elif ft in (1, 3, 4):
            cur = out[r]
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if ft == 1:
                    pred = a
                elif ft == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (x[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad filter type {ft}")
    return out.astype(np.uint8).reshape(h, w, bpp)


def decode_png_blob(raw: bytes):
    """Parse + verify + decode one PNG: returns (w, h, pixels) or None.
    Every chunk CRC is re-verified with zlib.crc32 and the IDAT Adler-32
    is verified by zlib.decompress — for JVM-built blobs these check
    F.crc32 and the HOF Adler against an independent implementation."""
    import struct
    import zlib

    if raw[:8] != _PNG_SIG:
        return None
    try:
        pos, idat, hdr = 8, b"", None
        while pos + 12 <= len(raw):
            (ln,) = struct.unpack(">I", raw[pos : pos + 4])
            typ = raw[pos + 4 : pos + 8]
            if pos + 12 + ln > len(raw):
                return None  # truncated / corrupted length field
            data = raw[pos + 8 : pos + 8 + ln]
            (crc,) = struct.unpack(">I", raw[pos + 8 + ln : pos + 12 + ln])
            if zlib.crc32(typ + data) != crc:
                return None
            if typ == b"IHDR":
                hdr = struct.unpack(">IIBBBBB", data)
            elif typ == b"IDAT":
                idat += data
            elif typ == b"IEND":
                break
            pos += 12 + ln
        if hdr is None:
            return None
        w, h, bd, ct, comp, filt, inter = hdr
        if bd != 8 or ct != 2 or comp or filt or inter:
            return None
        stream = zlib.decompress(idat)  # raises on a bad Adler-32
        if len(stream) != h * (w * 3 + 1):
            return None
        return w, h, png_unfilter(stream, w, h, 3)
    except (struct.error, zlib.error, ValueError):
        return None  # corrupted bytes must yield None, never a crash


def decode_png_stats(media_df: DataFrame) -> DataFrame:
    """Arrow-batched mapInPandas: decode each PNG blob, emit
    (doc_id, width, height, per-channel means) — same shape as the
    PPM decoder so the oracles are shared."""

    def png_stats(doc_id, blob):
        dec = decode_png_blob(bytes(blob))
        if dec is None:
            return  # invalid PNG — skip, don't crash the task
        w, h, img = dec
        means = img.astype(np.float64).mean(axis=(0, 1))
        yield doc_id, w, h, float(means[0]), float(means[1]), float(means[2])

    return map_rows(media_df, ["doc_id", "media"], png_stats, _PNG_SCHEMA)


@register("q_mm_png_decode", oracle=_PPM_ORACLE, tags=("multimodal", "udf"))
def q_mm_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-container codec check, construction side JVM: every
    document becomes a REAL PNG assembled by SQL expressions (stored
    DEFLATE, HOF Adler-32, F.crc32 chunk CRCs), decoded by the
    independent Python zlib/numpy path, hash-checked against the same
    byte-level oracle as the PPM twin. The decode re-verifies the
    JVM's CRC-32 and Adler-32 with zlib's implementations — the
    cross-engine validation A35 does for frame markers
    (`iceberg-twist/main.py:43-47`, `iceberg-twist/notes.org:8`)."""
    from iceberg_twist_spark.common import spread

    docs = spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    decoded = decode_png_stats(build_png_table(docs))
    return decoded.select(
        "doc_id", "width", "height",
        r4("mean_r").alias("mean_r"),
        r4("mean_g").alias("mean_g"),
        r4("mean_b").alias("mean_b"),
    )


def build_png_filtered_table(docs: DataFrame) -> DataFrame:
    """Python-encoded PNGs over the SAME md5 pixel stream: scanline
    filters cycle through all five types and the stream is genuinely
    zlib-compressed. hashlib.md5 hex == Spark md5 == DuckDB md5, so
    the oracle arithmetic is unchanged."""

    def png_encode(doc_id, n_chars):
        import hashlib

        w = 8 + int(doc_id) % 8
        h = 8 + int(n_chars) % 8
        n_px = w * h * 3
        hx = hashlib.md5(str(int(doc_id)).encode()).hexdigest()
        stream = (hx * -(-n_px // 32))[:n_px].encode("ascii")
        yield int(doc_id), encode_png(np.frombuffer(stream, dtype=np.uint8).reshape(h, w, 3))

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("media", T.BinaryType())]
    )
    return map_rows(docs, ["doc_id", "n_chars"], png_encode, schema)


@register("q_mm_png_filters", oracle=_PPM_ORACLE, tags=("multimodal", "udf"))
def q_mm_png_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-container codec check, filter-coverage side: the
    numpy encoder writes every scanline filter type (r % 5) with real
    zlib compression; the sequential-reconstruction decoder reverses
    them. Same oracle as q_mm_png_decode/q_mm_ppm_decode — three
    containers, one byte-level ground truth."""
    from iceberg_twist_spark.common import spread

    docs = spread(load_tables(spark, sf_dir)["documents"], "doc_id")
    decoded = decode_png_stats(build_png_filtered_table(docs))
    return decoded.select(
        "doc_id", "width", "height",
        r4("mean_r").alias("mean_r"),
        r4("mean_g").alias("mean_g"),
        r4("mean_b").alias("mean_b"),
    )
