"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
metadata struct — the same late-bound-payload shape as the reference's
FileInfo (lazy ``open()``, /root/reference/warcit/base.py:99-100) and the
pages table's ``html`` column.  The Spark-side contract (schema,
partition-preserving ``mapInPandas`` batch shape, Arrow transfer) is real
and tested.

Decode status per format: PNG and WAV decode is REAL — pure-stdlib
kernels in :mod:`warcit_spark.operators.media_codecs` (zlib scanline
defilter, PCM sample decode), producing genuine width/height/duration
metadata and pixel/sample statistics features.  JPEG/GIF/FLV need codec
libraries the sandbox doesn't ship, so those stay behind the documented
stub: ``NotImplementedError`` unless a deterministic fake is requested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warcit_spark.operators.media_codecs import (
    decode_png,
    decode_wav,
    encode_png,
    encode_wav,
    parse_png_header,
    parse_wav_header,
)

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<mime:string, width:int, height:int, duration_s:double>"
)

FEATURE_SCHEMA = "media_id long, kind string, feature array<float>, feat_dim int"


def attach_media_meta(df: DataFrame) -> DataFrame:
    """Typed metadata projection over an opaque binary column: size, sha1,
    magic-byte sniff of the container format (first bytes only — the Spark
    analog of the reference sniffing 2048 bytes, warcit/warcit.py:28,640)."""
    head = F.substring(F.col("payload"), 1, 8)
    sniffed = (
        F.when(F.startswith(head, F.lit(b"\x89PNG")), "image/png")
        .when(F.startswith(head, F.lit(b"\xff\xd8\xff")), "image/jpeg")
        .when(F.startswith(head, F.lit(b"GIF8")), "image/gif")
        .when(F.startswith(head, F.lit(b"RIFF")), "audio/wav")
        .when(F.startswith(head, F.lit(b"FLV\x01")), "video/x-flv")
        .otherwise("application/octet-stream")
    )
    return df.withColumn("payload_size", F.length("payload").cast("long")) \
             .withColumn("payload_sha1", F.sha1(F.col("payload"))) \
             .withColumn("sniffed_mime", sniffed)


def _decode_features(payload: bytes, kind: str, deterministic_fake: bool):
    """8-float feature vector per media payload.

    PNG: real decode (media_codecs.decode_png) ->
    [width, height, channels, mean of up to 4 channels (0-1), 8.0(bit depth flag)]
    WAV: real decode (media_codecs.decode_wav) ->
    [duration_s, sample_rate/1e5, channels, rms, mean, max, min, bits/16]
    Anything else: codec-bound — deterministic sha-fake behind the flag,
    NotImplementedError otherwise (the documented stub).  A payload with a
    real-format magic that fails to parse falls through to the same
    stub/fake so corrupt inputs cannot kill a batch when the fake is on.
    """
    if payload.startswith(b"\x89PNG"):
        try:
            w, h, ch, px = decode_png(payload)
            n = w * h
            means = [0.0] * 4
            for c in range(ch):
                means[c] = sum(px[c::ch]) / (255.0 * n) if n else 0.0
            return [float(w), float(h), float(ch), *means, 8.0]
        except ValueError:
            pass  # unsupported PNG variant -> stub below
    elif payload.startswith(b"RIFF"):
        try:
            hdr, samples = decode_wav(payload)
            n = len(samples)
            rms = (sum(s * s for s in samples) / n) ** 0.5 if n else 0.0
            return [
                float(hdr.get("duration_s", 0.0)),
                hdr["sample_rate"] / 1e5,
                float(hdr["channels"]),
                rms,
                (sum(samples) / n) if n else 0.0,
                max(samples, default=0.0),
                min(samples, default=0.0),
                hdr["bits_per_sample"] / 16.0,
            ]
        except ValueError:
            pass
    if not deterministic_fake:
        raise NotImplementedError(
            f"decode for this payload (kind={kind!r}) needs codec libraries "
            "not in this container (PIL/av); PNG and WAV decode natively — "
            "pass deterministic_fake=True for the test double on the rest"
        )
    # deterministic fake: 8 float features derived from a sha256 of payload
    digest = hashlib.sha256(payload or b"").digest()
    return [b / 255.0 for b in digest[:8]]


def extract_media_features(
    media: DataFrame, deterministic_fake: bool = False
) -> DataFrame:
    """Decode/feature-extract via mapInPandas (Arrow batches).

    PNG/WAV features come from a REAL pure-stdlib decode; other formats
    use the documented stub (or the deterministic fake).  Batch shape,
    schema and partitioning are the production contract either way.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _decode_features(
                    bytes(p) if p is not None else b"", k, deterministic_fake
                )
                for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": feats,
                    "feat_dim": [len(f) for f in feats],
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        fn, FEATURE_SCHEMA
    )


def extract_media_meta(media: DataFrame) -> DataFrame:
    """Fill the typed meta struct (mime, width, height, duration_s) from a
    REAL header parse — PNG IHDR and WAV fmt/data chunks — via mapInPandas;
    non-parsing payloads keep a NULL struct.  No codec libraries needed:
    header fields live in the first bytes of the container."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = []
            for p in pdf["payload"]:
                b = bytes(p) if p is not None else b""
                png = parse_png_header(b)
                if png is not None:
                    metas.append(
                        {"mime": "image/png", "width": png["width"],
                         "height": png["height"], "duration_s": None}
                    )
                    continue
                wav = parse_wav_header(b)
                if wav is not None:
                    metas.append(
                        {"mime": "audio/wav", "width": None, "height": None,
                         "duration_s": wav.get("duration_s")}
                    )
                    continue
                metas.append(None)
            out = pdf[["media_id", "kind", "payload"]].copy()
            out["meta"] = metas
            yield out

    return media.select("media_id", "kind", "payload").mapInPandas(
        fn, MEDIA_SCHEMA
    )


def generate_media_fixture(spark, n: int = 64) -> DataFrame:
    """Deterministic synthetic media table.  PNG and WAV rows are REAL
    decodable files (built with the encoder twins in media_codecs);
    JPEG/GIF/FLV rows are magic bytes + filler (their decode is the
    documented stub)."""
    magics = {
        1: b"\xff\xd8\xff\xe0",
        2: b"GIF89a",
        4: b"FLV\x01",
    }
    kinds = {0: "image", 1: "image", 2: "image", 3: "audio", 4: "video"}
    rows = []
    for i in range(n):
        m = i % 5
        if m == 0:  # real 4x3 RGB PNG, deterministic pixels
            px = bytes(((i * 31 + j * 7) % 256) for j in range(4 * 3 * 3))
            payload = encode_png(4, 3, 3, px)
        elif m == 3:  # real PCM16 WAV, 40 samples of a ramp
            samples = [((i + j) % 20 - 10) / 10.0 for j in range(40)]
            payload = encode_wav(samples, sample_rate=8000, channels=1)
        else:
            payload = magics[m] + bytes([(i * 7 + j) % 256 for j in range(64)])
        rows.append((i, kinds[m], payload, None))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
