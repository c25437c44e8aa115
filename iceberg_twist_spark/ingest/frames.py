"""Binary-telemetry ingest: framing + fixed-layout record decode.

This is the reference's literal surface, re-expressed for Spark:

- frame split on the ``0x3a`` delimiter (`iceberg-twist/main.py:87,101`, A5)
- fixed-offset scalar extract: little-endian int32 timestamp at byte
  offset 6 (`iceberg-twist/main.py:60-62`, A7)
- byte-slice projection ``[10:24]`` (`iceberg-twist/main.py:65-74`, A8)
- int16[] sample-vector decode via ``struct.iter_unpack('h', ...)``
  (`iceberg-twist/main.py:77-81`, A9)
- ≤6.4 kB message chunking (`iceberg-twist/notes.org:25-26`, A33)

Design: the decode is a **vectorized Arrow-batched pandas UDF** —
numpy ``frombuffer`` over each frame's bytes, never a per-row Python
UDF. Framing and chunking stay as JVM expressions (split/explode,
sequence+substr), so only the struct-unpack itself crosses into
Python, in columnar batches.
"""

from __future__ import annotations


import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from iceberg_twist_spark.catalog import load_tables
from iceberg_twist_spark.kernels import map_rows
from iceberg_twist_spark.registry import register

FRAME_STRUCT = T.StructType(
    [
        T.StructField("ts_sec", T.LongType()),
        T.StructField("s1", T.IntegerType()),
        T.StructField("s2", T.IntegerType()),
    ]
)


FRAME_BYTES = 14  # 6 pad + int32 ts + 2 × int16 samples


@pandas_udf(FRAME_STRUCT)
def decode_frame_hex(frame_hex: pd.Series) -> pd.DataFrame:
    """Decode a hex-encoded fixed-layout frame (Arrow-batched AND
    numpy-vectorized: the whole batch decodes as ONE ``frombuffer``
    over the concatenated frame bytes — no per-row Python loop).

    Layout (mirrors `iceberg-twist/main.py:60-81`): 6 pad bytes, then a
    little-endian int32 epoch-seconds timestamp at offset 6, then two
    little-endian int16 samples at offsets 10 and 12.
    """
    import numpy as np

    n = len(frame_hex)
    if n == 0:
        return pd.DataFrame({"ts_sec": [], "s1": [], "s2": []})
    # prefix-decode semantics (the reference reads a known-offset
    # prefix of frames that may carry trailing payload): clip each
    # frame to the FRAME_BYTES prefix before concatenating, so
    # over-length frames decode their prefix rather than erroring;
    # under-length frames fail with a per-batch width report
    clipped = frame_hex.str.slice(0, 2 * FRAME_BYTES)
    short = clipped.str.len() < 2 * FRAME_BYTES
    if short.any():
        raise ValueError(
            f"{int(short.sum())} frame(s) shorter than the "
            f"{FRAME_BYTES}-byte fixed prefix (shortest "
            f"{int(clipped.str.len().min()) // 2} bytes)"
        )
    # fixed width: concatenate once, reshape (n, FRAME_BYTES), then
    # read each field as a strided little-endian view
    buf = np.frombuffer(
        bytes.fromhex("".join(clipped)), dtype=np.uint8
    ).reshape(n, FRAME_BYTES)
    ts = buf[:, 6:10].copy().view("<i4").ravel()
    s = buf[:, 10:14].copy().view("<i2").reshape(n, 2)
    return pd.DataFrame(
        {"ts_sec": ts.astype("int64"), "s1": s[:, 0], "s2": s[:, 1]}
    )


def _le_hex(col, n_bytes: int):
    """Little-endian hex encoding of an integer column (JVM expressions)."""
    parts = [
        F.lpad(F.hex(F.shiftright(col, 8 * i).bitwiseAND(F.lit(255))), 2, "0")
        for i in range(n_bytes)
    ]
    return F.concat(*parts)


def build_event_frames(events: DataFrame) -> DataFrame:
    """Encode events as hex telemetry frames (deterministic test fixture).

    ts_sec = floor-epoch-seconds of ``ts``; s1 = trunc(value*100) mod
    32768; s2 = event_id mod 32768 — all int16-safe.
    """
    ts_sec = F.unix_timestamp("ts")
    s1 = (F.col("value") * 100).cast("int") % 32768
    s2 = (F.col("event_id") % 32768).cast("int")
    frame_hex = F.concat(
        F.lit("00" * 6),  # 6-byte header → timestamp lands at offset 6
        _le_hex(ts_sec, 4),  # offsets 6..9
        _le_hex(s1, 2),  # payload offsets 10..11
        _le_hex(s2, 2),  # payload offsets 12..13
    )
    return events.select("event_id", frame_hex.alias("frame_hex"))


_DECODE_ORACLE = """
SELECT event_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
       CAST(CAST(trunc(value * 100) AS BIGINT) % 32768 AS INT) AS s1,
       CAST(event_id % 32768 AS INT) AS s2
FROM events
"""


@register("q_udf_scalar_pandas", oracle=_DECODE_ORACLE, tags=("udf", "telemetry"))
def q_udf_scalar_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip: encode events → hex frames (JVM exprs) → decode with the
    Arrow-batched pandas UDF → values must equal a direct SQL derivation
    from the source columns."""
    events = load_tables(spark, sf_dir)["events"]
    frames = build_event_frames(events)
    decoded = frames.select(
        "event_id", decode_frame_hex("frame_hex").alias("rec")
    )
    return decoded.select(
        "event_id",
        F.col("rec.ts_sec").alias("ts_sec"),
        F.col("rec.s1").alias("s1"),
        F.col("rec.s2").alias("s2"),
    )


_CHUNK_ORACLE = """
SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
       substr(text, CAST(i * 100 + 1 AS INT), 100) AS chunk
FROM (
  SELECT doc_id, text,
         unnest(range(0, CAST(ceil(length(text) / 100.0) AS INT))) AS i
  FROM documents
)
"""


@register("q_chunk_payload", oracle=_CHUNK_ORACLE, tags=("telemetry", "chunk"))
def q_chunk_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MTU chunking (A33): slice each payload into ≤100-char chunks via
    sequence + substr + posexplode — pure JVM expressions, one row per
    chunk, no Python."""
    docs = load_tables(spark, sf_dir)["documents"]
    n_chunks = F.ceil(F.length("text") / 100.0).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.col("text").substr(i * 100 + 1, F.lit(100)),
    )
    return (
        docs.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
        .withColumn("chunk_idx", F.col("chunk_idx").cast("long"))
    )


def split_frames_map_in_pandas(df: DataFrame, payload_col: str, delim: bytes = b"\x3a") -> DataFrame:
    """mapInPandas frame splitter over binary payloads (A5/A6).

    The streaming-shaped variant of the delimiter split: each Arrow
    batch of byte blobs is split on ``delim`` and re-emitted one row
    per frame. Used where the payload is genuine BinaryType (the
    expression path in q_scan_binary covers the string case).
    """
    out_schema = T.StructType(
        [
            T.StructField("frame_no", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
            T.StructField("frame_len", T.IntegerType()),
        ]
    )

    def split(blob):
        for i, fr in enumerate(bytes(blob).split(delim)):
            yield i, fr, len(fr)

    return map_rows(df, [payload_col], split, out_schema)


_FRAMES_MIP_ORACLE = """
WITH t AS (SELECT string_split(text, ' ') AS l FROM documents)
SELECT CAST(x.i AS INT) AS frame_no,
       x.w AS frame_str,
       CAST(length(x.w) AS INT) AS frame_len
FROM (SELECT unnest(list_transform(l, (w, i) -> {'w': w, 'i': i - 1})) AS x FROM t)
"""


@register("q_frames_mapinpandas", oracle=_FRAMES_MIP_ORACLE, tags=("udf", "telemetry"))
def q_frames_mapinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-batched mapInPandas splitter over binary-cast document
    text, hash-checked (r4 upgrade from rows-only): the emitted
    multiset of (frame_no, frame text, frame_len) must equal DuckDB's
    arithmetic split of the same documents — so the Python byte-split
    path is value-verified, not just executed."""
    docs = load_tables(spark, sf_dir)["documents"]
    payload = docs.select(
        F.encode(F.regexp_replace("text", " ", ":"), "utf-8").alias("payload")
    )
    frames = split_frames_map_in_pandas(payload, "payload")
    return frames.select(
        "frame_no",
        F.decode(F.col("frame"), "utf-8").alias("frame_str"),
        "frame_len",
    )
