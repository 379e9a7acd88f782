"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed in Arrow-batched Pandas stages.

The Spark-side architecture is fully real — schemas, partition-preserving
``mapInPandas`` stages, batch iteration — and ``decode_media`` performs a
TRUE byte-level decode for the formats with vendored pure-Python codecs
(24-bit BMP, PCM16 WAV — operators/codecs.py); ``resize_media`` does a
real nearest-neighbor downsample for BMP.  Compressed formats
(PNG/JPEG/MP3/...) still need a codec library the container does not
ship: for those content types the NotImplementedError gate remains (now
narrowed to exactly them), and ``fake_feature_extract`` computes
deterministic features from the raw bytes so every pipeline shape stays
testable end-to-end.

At 100 TB: binary payloads ride the columnar path (parquet binary +
Arrow); mapInPandas streams batches (spark.sql.execution.arrow
.maxRecordsPerBatch controls peak memory), and feature extraction is
embarrassingly parallel — no shuffle anywhere in this module.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("content_type", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("byte_len", T.LongType(), False),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("content_type", T.StringType(), False),
        T.StructField("byte_len", T.LongType(), False),
        T.StructField("sha256_8", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.DoubleType()), False),
    ]
)


def attach_binary_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Materialize an opaque binary payload column + typed metadata.

    Here the payload is the utf-8 encoding of the text (a deterministic
    stand-in for image bytes); in production this column comes straight
    from parquet binary storage.
    """
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.lit("application/octet-stream").alias("content_type"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.length(F.encode(F.col(text_col), "UTF-8")).cast("long").alias(
            "byte_len"
        ),
    )


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("content_type", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("n_channels", T.IntegerType(), False),
        T.StructField("n_values", T.LongType(), False),
        T.StructField("mean_value", T.DoubleType(), False),
        T.StructField("feature", T.ArrayType(T.DoubleType()), False),
    ]
)

# content types the vendored pure-Python codecs (operators/codecs.py)
# decode for real; everything else stays behind the library gate.
VENDORED_DECODERS = ("image/bmp", "image/png", "audio/wav", "audio/x-wav")

# content types where the vendored parsers extract HEADER metadata only
# (dimensions / sample layout) — pure byte parsing, no entropy decode:
# the two formats a real crawl actually serves most.  Pixel/sample
# values for these still need a codec library, so their decoded rows
# carry n_values=0 and a zero feature; the NotImplementedError gate now
# covers only types in NEITHER list.
HEADER_ONLY_DECODERS = ("image/jpeg", "audio/mpeg")


def decode_media(
    df: DataFrame, on_error: str = "raise", n_bins: int = 8
) -> DataFrame:
    """TRUE media decode over the opaque payload column, Arrow-batched.

    ``image/bmp`` and ``image/png`` payloads are pixel-decoded (PNG via
    CRC-checked chunk walk + stdlib zlib inflate + scanline unfiltering)
    and ``audio/wav`` payloads sample-decoded by the vendored
    pure-Python codecs (operators/codecs.py) — a real byte-level parse,
    not a stand-in.
    Output per row: typed dimensions (width/height or
    sample_rate/n_channels), decoded-value count, mean of the decoded
    values normalized to [0, 1], and an ``n_bins``-bin normalized
    histogram of the decoded values as the content feature.

    ``image/jpeg`` and ``audio/mpeg`` payloads get HEADER-ONLY rows
    (dimensions from the JPEG SOF marker, rate/channels from the MP3
    frame header — codecs.jpeg_header/mp3_frame_header): real typed
    metadata, ``n_values=0`` and a zero feature, because pixel/sample
    values for these formats genuinely need a codec library.

    ``on_error``: ``"raise"`` (default) surfaces malformed payloads and
    content types in NEITHER decoder list (the NotImplementedError
    gate, now covering only genuinely-unparseable types like
    video containers); ``"skip"`` drops both, the bad-record path of
    the JSON decoder (streaming/fanout.py).

    Scale shape: identical to ``fake_feature_extract`` — a narrow
    mapInPandas stage, no shuffle; peak memory is the Arrow batch plus
    ONE decoded payload (for PNG that can exceed the encoded size by
    the DEFLATE ratio — decode_png bounds it at 64 MB decoded, and
    lowering that cap is the knob for latency-sensitive stages, since
    the pure-Python unfilter also costs ~0.5 s per MP).
    """
    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be raise|skip, got {on_error!r}")

    from golang_cassandra_kafka_feed_spark.operators.codecs import (
        MediaFormatError,
        decode_bmp,
        decode_png,
        decode_wav,
        jpeg_header,
        mp3_frame_header,
    )

    def _rows(pdf: pd.DataFrame) -> Iterator[dict]:
        for doc_id, ctype, payload in zip(
            pdf["doc_id"], pdf["content_type"], pdf["payload"]
        ):
            raw = bytes(payload)
            try:
                if ctype == "image/bmp":
                    w, h, rgb = decode_bmp(raw)
                    vals = rgb  # bytes iterate as ints — no 8x list blowup
                    scale = 255.0
                    meta = ("image", w, h, 0, 0)
                elif ctype == "image/png":
                    w, h, rgb = decode_png(raw)
                    vals = rgb
                    scale = 255.0
                    meta = ("image", w, h, 0, 0)
                elif ctype in ("audio/wav", "audio/x-wav"):
                    rate, ch, samples = decode_wav(raw)
                    vals = samples
                    scale = 32768.0
                    meta = ("audio", 0, 0, rate, ch)
                elif ctype == "image/jpeg":
                    # header-only: dimensions from the SOF marker, no
                    # entropy decode (n_values=0, zero feature)
                    w, h, _ncomp, _prog = jpeg_header(raw)
                    vals = b""
                    scale = 255.0
                    meta = ("image", w, h, 0, 0)
                elif ctype == "audio/mpeg":
                    rate, ch, _kbps = mp3_frame_header(raw)
                    vals = []
                    scale = 32768.0
                    meta = ("audio", 0, 0, rate, ch)
                else:
                    raise NotImplementedError(
                        f"no vendored decoder for {ctype!r} (full decode: "
                        f"{VENDORED_DECODERS}; header-only: "
                        f"{HEADER_ONLY_DECODERS}); other compressed "
                        "formats need a codec library"
                    )
            except (MediaFormatError, NotImplementedError):
                if on_error == "skip":
                    continue
                raise
            n = len(vals)
            if n:
                # frombuffer + bincount compute the SAME integers as the
                # former per-value Python loop: inputs are exact
                # uint8/int16, the mean's sum is an exact int64, and the
                # binning ops ((v/scale+1)/2 resp. v/256, *n_bins,
                # truncate) are the identical IEEE-754 float64 ops NumPy
                # element-wise ops perform — provable bit-identity (the
                # clustering_vec int64 contract), asserted against an
                # inline reimplementation of the loop in
                # test_multimodal.py.  The loop was ~3M interpreted
                # iterations per decoded megapixel — the stage cost at
                # a multimodal-corpus scale (review-found r9).
                if isinstance(vals, (bytes, bytearray)):
                    arr = np.frombuffer(vals, dtype=np.uint8)
                else:
                    arr = np.asarray(vals, dtype=np.int64)
                mean = int(arr.sum(dtype=np.int64)) / n / scale
                if scale == 32768.0:
                    # values in [-scale, scale); map to [0, 1) then bin
                    u = (arr / np.float64(32768.0) + 1.0) / 2.0
                else:
                    u = arr / np.float64(256.0)
                idx = np.minimum(n_bins - 1, (u * n_bins).astype(np.int64))
                hist = np.bincount(idx, minlength=n_bins).tolist()
            else:
                mean = 0.0
                hist = [0] * n_bins
            yield {
                "doc_id": doc_id,
                "content_type": ctype,
                "kind": meta[0],
                "width": meta[1],
                "height": meta[2],
                "sample_rate": meta[3],
                "n_channels": meta[4],
                "n_values": n,
                "mean_value": mean,
                "feature": [c / n if n else 0.0 for c in hist],
            }

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = list(_rows(pdf))
            yield pd.DataFrame(
                out,
                columns=[f.name for f in DECODED_SCHEMA.fields],
            )

    return df.mapInPandas(_decode, DECODED_SCHEMA)


def attach_media_payload(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Synthesize REAL media payloads deterministically from text: even
    doc_ids become 4x4 24-bit BMPs, odd doc_ids PCM16 WAVs, with pixel /
    sample values derived from sha256(text) — so decode tests exercise
    the true codec path on bytes that round-trip through the vendored
    encoders.  Same Arrow-batched shape as the other stages."""
    from golang_cassandra_kafka_feed_spark.operators.codecs import (
        encode_bmp,
        encode_wav,
    )

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                digest = hashlib.sha256(str(text).encode()).digest()
                if int(doc_id) % 2 == 0:
                    rgb = (digest * 3)[: 4 * 4 * 3]
                    payload = encode_bmp(4, 4, rgb)
                    ctype = "image/bmp"
                else:
                    samples = [
                        int.from_bytes(
                            digest[2 * i : 2 * i + 2], "little", signed=True
                        )
                        for i in range(16)
                    ]
                    payload = encode_wav(samples, sample_rate=8000)
                    ctype = "audio/wav"
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "content_type": ctype,
                        "payload": payload,
                        "byte_len": len(payload),
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
            )

    return df.select(
        F.col(id_col).cast("long").alias(id_col), F.col(text_col)
    ).mapInPandas(_gen, MEDIA_SCHEMA)


def attach_header_payload(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Plant REAL JPEG/MP3 header payloads deterministically from
    ``doc_id`` (even ids JPEG, odd ids MP3) via the vendored header
    builders — parameters are closed-form in doc_id, so an oracle can
    compute the expected decode output without parsing a byte:

    - JPEG: width = 16 + id % 240, height = 16 + (id * 7) % 240,
      3 components, progressive iff id % 4 == 0;
    - MP3:  sample_rate = (44100, 48000, 32000)[id % 3],
      mono iff id % 4 == 3, 128 kbps.

    Same Arrow-batched mapInPandas shape as the other planters."""
    from golang_cassandra_kafka_feed_spark.operators.codecs import (
        encode_jpeg_header,
        encode_mp3_frame,
    )

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf[id_col]:
                i = int(doc_id)
                if i % 2 == 0:
                    payload = encode_jpeg_header(
                        16 + i % 240,
                        16 + (i * 7) % 240,
                        n_components=3,
                        progressive=(i % 4 == 0),
                    )
                    ctype = "image/jpeg"
                else:
                    payload = encode_mp3_frame(
                        (44100, 48000, 32000)[i % 3],
                        n_channels=1 if i % 4 == 3 else 2,
                        bitrate_kbps=128,
                    )
                    ctype = "audio/mpeg"
                rows.append(
                    {
                        "doc_id": i,
                        "content_type": ctype,
                        "payload": payload,
                        "byte_len": len(payload),
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
            )

    return df.select(F.col(id_col).cast("long").alias(id_col)).mapInPandas(
        _gen, MEDIA_SCHEMA
    )


def fake_feature_extract(
    media: DataFrame, feature_dim: int = 8
) -> DataFrame:
    """Deterministic per-payload features via Arrow-batched mapInPandas.

    Feature = first ``feature_dim`` bytes of sha256(payload), scaled to
    [0, 1) — a stand-in with the exact batch shape of a real embedding
    model (bytes in, float vector out, vectorized per Arrow batch).
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            digests = [
                hashlib.sha256(bytes(p)).digest() for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content_type": pdf["content_type"],
                    "byte_len": pdf["byte_len"],
                    "sha256_8": [d[:8].hex() for d in digests],
                    "feature": [
                        [b / 256.0 for b in d[:feature_dim]] for d in digests
                    ],
                }
            )

    return media.mapInPandas(_extract, FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("content_type", T.StringType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("thumbnail", T.BinaryType(), False),
    ]
)


def resize_media(
    media: DataFrame, width: int = 8, height: int = 8
) -> DataFrame:
    """Thumbnail/resize stage — Arrow-batched mapInPandas (payload in,
    width x height thumbnail bytes out, narrow, no shuffle).

    ``image/bmp`` and ``image/png`` payloads get a REAL nearest-neighbor
    resize: the vendored codec decodes the pixels, the grid is sampled
    to width x height, and each sampled pixel becomes one grayscale
    byte ((r+g+b)//3).  Other content types keep the deterministic
    stride-sampling stand-in (``width*height`` bytes sampled evenly
    across the payload, repeating for short payloads) so output size and
    batch shape always match the real operator.
    """
    from golang_cassandra_kafka_feed_spark.operators.codecs import (
        MediaFormatError,
        decode_bmp,
        decode_png,
    )

    decoders = {"image/bmp": decode_bmp, "image/png": decode_png}
    n_out = width * height

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            thumbs = []
            for ctype, p in zip(pdf["content_type"], pdf["payload"]):
                raw = bytes(p)
                if ctype in decoders:
                    try:
                        w, h, rgb = decoders[ctype](raw)
                    except MediaFormatError:
                        thumbs.append(b"\x00" * n_out)
                        continue
                    gray = bytearray(n_out)
                    for ty in range(height):
                        sy = ty * h // height
                        for tx in range(width):
                            sx = tx * w // width
                            o = (sy * w + sx) * 3
                            gray[ty * width + tx] = (
                                rgb[o] + rgb[o + 1] + rgb[o + 2]
                            ) // 3
                    thumbs.append(bytes(gray))
                    continue
                if not raw:
                    thumbs.append(b"\x00" * n_out)
                    continue
                step = max(1, len(raw) // n_out)
                sampled = raw[::step][:n_out]
                # repeat to exactly n_out bytes for short payloads
                sampled = (sampled * (n_out // len(sampled) + 1))[:n_out]
                thumbs.append(sampled)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "content_type": pdf["content_type"],
                    "width": width,
                    "height": height,
                    "thumbnail": thumbs,
                }
            )

    return media.mapInPandas(_resize, RESIZED_SCHEMA)
