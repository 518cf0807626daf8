"""Multimodal column plumbing: opaque ``binary`` media + typed metadata.

Three small dependency-free codecs are real (P6 PPM, RIFF/WAVE PCM16,
YUV4MPEG2 C444); anything else goes through a STUB decode (deterministic
fake features, or ``NotImplementedError`` in strict mode). Everything
Spark-side is real and tested: the schema contract, the Arrow-batched
``mapInPandas`` shape, partition-sized batching, and the JVM-side byte
statistics that need no Python at all.

Every decoding kernel (resize, aHash, pHash, audio features, VAD, scene
cuts) runs through one per-batch loop, ``_media_map``, which owns the
corrupt-row contract: an undecodable payload yields one row of its
doc_id and NULLs, never an aborted job. The aHash and pHash near-pair
queries run through the one banded Hamming join,
``dedup.hamming_band_pairs``, over hashes packed into a long.

At 100 TB: media bytes never reach the driver; ``mapInPandas`` streams
Arrow record batches through the Python workers partition-by-partition,
and the JVM-only stats queries don't deserialize into Python at all.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.grid import r6
from ..sources.io import load_table

#: Output contract of the feature extractor.
MEDIA_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("format", StringType()),
        StructField("features", ArrayType(FloatType())),
    ]
)

N_FEATURES = 16


def media_from_documents(documents: DataFrame) -> DataFrame:
    """Adapt the text fixture into the media shape: (doc_id, media binary,
    media_format, n_bytes). Real deployments read binary columns straight
    from parquet — the shape is identical."""
    media = F.encode(F.col("text"), "UTF-8")
    return documents.select(
        "doc_id",
        media.alias("media"),
        F.lit("text/plain").alias("media_format"),
        F.octet_length(media).cast("long").alias("n_bytes"),
    )


def decode_media(payload: bytes, media_format: str, *, fake: bool = True) -> list[float]:
    """STUB decode: the real pixel/waveform decode needs codec libs not in
    this container. ``fake=True`` returns a deterministic byte-histogram
    sketch (real arithmetic over the real bytes — only the codec is fake);
    ``fake=False`` raises, marking exactly where a codec plugs in.
    """
    if not fake:
        raise NotImplementedError(
            f"no codec for {media_format}; install one and plug it in here"
        )
    buckets = [0] * N_FEATURES
    for byte in payload:
        buckets[byte % N_FEATURES] += 1
    total = max(len(payload), 1)
    # round half-AWAY-from-zero (SQL convention), not Python's banker's
    # rounding: power-of-two payload sizes produce exact .5 ties at 6dp
    return [math.floor(b / total * 1e6 + 0.5) / 1e6 for b in buckets]


def extract_media_features(media_df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary media via mapInPandas.

    The UDF sees pandas batches (one per Arrow batch within a partition) —
    the canonical shape for plugging in a real decoder + model. Output
    schema is fixed (MEDIA_FEATURES_SCHEMA).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["media"].map(len).astype("int64"),
                    "format": pdf["media_format"],
                    "features": pdf.apply(
                        lambda r: decode_media(r["media"], r["media_format"]),
                        axis=1,
                    ),
                }
            )

    return media_df.mapInPandas(run, MEDIA_FEATURES_SCHEMA)


FRAME_SIZE = 256
FRAME_EVERY_K = 2


def frame_sample(
    spark: SparkSession,
    sf_dir: str,
    frame_size: int = FRAME_SIZE,
    every_k: int = FRAME_EVERY_K,
) -> DataFrame:
    """Video-style frame sampling, entirely JVM-side: treat the binary as a
    stream of fixed-size frames, keep every k-th, digest each.

    No Python touches the bytes — ``substring`` on binary is byte-addressed
    and ``md5`` digests frames inside codegen, so at 100 TB this is a scan +
    a narrow explode, no Arrow transfer. A real video decoder replaces the
    fixed-size split with codec framing via ``extract_media_features``'s
    mapInPandas path; the downstream plumbing (explode, per-frame rows,
    digest columns) is identical.
    """
    # n_bytes > 0 guard: Spark's sequence(0, -1) counts DOWN ([0, -1]),
    # it is not empty like generate_series — an empty payload would
    # otherwise emit phantom frames
    m = media_from_documents(load_table(spark, sf_dir, "documents")).where(
        F.col("n_bytes") > 0
    )
    n_frames = F.ceil(F.col("n_bytes") / F.lit(frame_size)).cast("int")
    frames = m.select(
        "doc_id",
        "n_bytes",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
        F.col("media"),
    ).where(F.col("frame_idx") % every_k == 0)
    frame = F.expr(f"substring(media, frame_idx * {frame_size} + 1, {frame_size})")
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.octet_length(frame).cast("long").alias("frame_bytes"),
        # digest of the frame's (uppercase) hex rendering, not the raw
        # bytes: SQL engines commonly can't md5/slice BLOBs, and the hex
        # domain is a bijection, so the digest identifies frames equally
        F.md5(F.hex(frame)).alias("frame_md5"),
    )


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing shape of ``extract_media_features``: the Arrow-batched
    mapInPandas extractor, exploded to one row per (doc, feature bucket).

    The stub 'decode' is a byte histogram — real arithmetic over the real
    bytes — so the whole Pandas-UDF path is verifiable against a SQL oracle
    computing the same histogram, proving the plumbing end-to-end.
    """
    m = media_from_documents(load_table(spark, sf_dir, "documents"))
    feats = extract_media_features(m)
    return feats.select(
        "doc_id",
        "n_bytes",
        F.posexplode("features").alias("bucket", "share"),
    ).select(
        "doc_id",
        "n_bytes",
        F.col("bucket").cast("long").alias("bucket"),
        # features are float32; the stub rounds to 6dp, which is <7 sig
        # digits for shares in [0,1] — re-rounding after the double cast
        # recovers the exact decimal the oracle computes
        F.round(F.col("share").cast("double"), 6).alias("share"),
    )


THUMB_SIDE = 8

#: 12 md5 blocks x 16 bytes = 192 bytes — exactly the 3·8·8 RGB payload
#: of the largest synthetic PPM side (4 + doc_id % 5 ≤ 8).
PPM_BLOCKS = 12

RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("src_side", LongType()),
        StructField("thumb_side", LongType()),
        StructField("thumb_md5", StringType()),
    ]
)


def ppm_from_documents(
    documents: DataFrame, side_base: int = 4, n_blocks: int = PPM_BLOCKS
) -> DataFrame:
    """Synthesize a REAL binary P6 PPM image per document — valid header
    (``P6\\n<w> <h>\\n255\\n``) + raw RGB triples — so the resize path
    exercises an actual image format end-to-end with no codec libraries.

    Pixel content is a deterministic md5 chain over the doc's text
    (``md5(text || ':i')`` for i in 0..11, concatenated, unhexed,
    truncated to 3·s² bytes) and the side is ``side_base + doc_id % 5``
    (default 4, so 4..8; the aHash family uses 8, so 8..12) — both
    replayable by a SQL oracle, which is what upgrades ``mm_resize``
    from rows-only to a full value-hash check: if the Python P6 parser
    mis-read the header or mis-addressed a pixel, the digests diverge.
    All construction is JVM-side codegen (md5/unhex/concat) — no Python.
    """
    s = (F.lit(side_base) + F.pmod(F.col("doc_id"), F.lit(5))).cast("int")
    hexpix = F.concat(
        *[
            F.md5(F.encode(F.concat(F.col("text"), F.lit(f":{i}")), "UTF-8"))
            for i in range(n_blocks)
        ]
    )
    header = F.concat(
        F.lit("P6\n"),
        s.cast("string"),
        F.lit(" "),
        s.cast("string"),
        F.lit("\n255\n"),
    )
    media = F.concat(
        F.encode(header, "UTF-8"),
        F.expr("substring(unhex(_hexpix), 1, 3 * _s * _s)"),
    )
    return (
        documents.select("doc_id", s.alias("_s"), hexpix.alias("_hexpix"))
        .select(
            "doc_id",
            media.alias("media"),
            F.lit("image/x-portable-pixmap").alias("media_format"),
        )
        .withColumn("n_bytes", F.octet_length("media").cast("long"))
    )


def decode_ppm(payload: bytes) -> tuple[int, int, int, bytes]:
    """Minimal dependency-free P6 PPM decoder: magic, whitespace/comment
    -separated width/height/maxval, single whitespace, raw RGB triples.
    Returns (width, height, maxval, pixel_bytes). The one real codec in
    the container — anything else goes through the declared stub seam.
    """
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    idx, vals = 2, []
    while len(vals) < 3:
        while idx < len(payload) and payload[idx : idx + 1].isspace():
            idx += 1
        if payload[idx : idx + 1] == b"#":  # header comment runs to EOL
            while idx < len(payload) and payload[idx : idx + 1] != b"\n":
                idx += 1
            continue
        start = idx
        while idx < len(payload) and not payload[idx : idx + 1].isspace():
            idx += 1
        vals.append(int(payload[start:idx]))
    idx += 1  # exactly ONE whitespace byte separates maxval from raster
    w, h, maxval = vals
    if maxval > 255:
        raise ValueError("2-byte-per-channel PPM not supported")
    return w, h, maxval, payload[idx : idx + 3 * w * h]


def _ppm_stride(w: int, h: int, pix: bytes, side: int) -> list[int]:
    """Nearest-neighbor stride sample of a decoded P6 raster's red channel
    down to ``side`` x ``side``, row-major. A truncated raster raises
    ``IndexError`` here, which the media kernel reads as a corrupt row."""
    return [
        pix[3 * ((r * h // side) * w + c * w // side)]
        for r in range(side)
        for c in range(side)
    ]


_PD_DTYPES = {LongType: "Int64", DoubleType: "Float64", BooleanType: "boolean"}


def _media_map(media_df: DataFrame, schema: StructType, decode, rows) -> DataFrame:
    """The one Arrow-batched media kernel behind every decoding operator.

    For each ``(doc_id, payload)``, ``decode(payload)`` runs inside the
    one corrupt-row catch: a ``ValueError``/``IndexError`` (truncated or
    garbage media) yields ONE row of ``doc_id`` and NULLs, so the damage
    is visible and the 100 TB job never aborts on one bad blob.
    ``NotImplementedError`` (the strict-mode codec seam) propagates. A
    decoded payload yields ``(doc_id, *r)`` for each ``r`` in
    ``rows(decoded)`` — possibly none. Column dtypes follow ``schema``
    (nullable pandas dtypes for longs, doubles and booleans)."""
    dtypes = [_PD_DTYPES.get(type(f.dataType), object) for f in schema.fields]
    n_null = len(dtypes) - 1

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["media"]):
                try:
                    decoded = decode(bytes(payload))
                except (ValueError, IndexError):
                    out.append((doc_id,) + (None,) * n_null)
                    continue
                out.extend((doc_id, *r) for r in rows(decoded))
            cols = list(zip(*out)) or [()] * len(dtypes)
            yield pd.DataFrame(
                {
                    f.name: pd.Series(list(c), dtype=d)
                    for f, c, d in zip(schema.fields, cols, dtypes)
                }
            )

    return media_df.mapInPandas(run, schema)


def resize_thumbnails(
    media_df: DataFrame, side: int = THUMB_SIDE, *, fake: bool = True
) -> DataFrame:
    """Image-resize over binary media via Arrow-batched ``mapInPandas``.

    P6 PPM payloads get a REAL decode (``decode_ppm`` — header parse +
    raster addressing), then nearest-neighbor stride-sampling of the red
    channel down to ``side`` x ``side``. Any other payload falls back to
    the declared stub (interpret bytes as a square grayscale bitmap of
    side floor(sqrt(n_bytes))) when ``fake=True``, or raises when
    ``fake=False`` — the seam where a full codec (JPEG/PNG) plugs in.

    The digest is md5 of the thumb's UPPERCASE-HEX rendering (not the raw
    bytes) — the same engine-portable convention as ``frame_sample``'s
    frame_md5, so a SQL oracle can replay it. A corrupt payload (a P6
    header with a truncated raster, or garbage dims) yields a NULL
    ``src_side``/``thumb_md5`` row that still carries ``thumb_side``.
    """
    import hashlib

    def _thumb(payload: bytes) -> tuple[int, bytes]:
        if payload.startswith(b"P6"):
            w, h, _maxval, pix = decode_ppm(payload)
            if w == 0 or h == 0:
                return 0, b""
            return w, bytes(_ppm_stride(w, h, pix, side))
        if not fake:
            raise NotImplementedError("no codec for this format in this container")
        src = int(len(payload) ** 0.5)
        if src == 0:
            return 0, b""
        out = bytearray()
        for r in range(side):
            for c in range(side):
                sr, sc = r * src // side, c * src // side
                out.append(payload[sr * src + sc])
        return src, bytes(out)

    def rows(t: tuple[int, bytes]):
        return [(t[0], hashlib.md5(t[1].hex().upper().encode()).hexdigest())]

    kernel = StructType([f for f in RESIZE_SCHEMA.fields if f.name != "thumb_side"])
    return _media_map(media_df, kernel, _thumb, rows).select(
        "doc_id",
        "src_side",
        F.lit(side).cast("long").alias("thumb_side"),
        "thumb_md5",
    )


def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail every document's synthetic P6 PPM — the REAL-codec resize
    path (construction and expected digests fully SQL-replayable)."""
    m = ppm_from_documents(load_table(spark, sf_dir, "documents"))
    return resize_thumbnails(m)


def media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-only media statistics: byte sizes, content digest, magic-prefix
    hex — the no-Python fast path for media inventory queries."""
    m = media_from_documents(load_table(spark, sf_dir, "documents"))
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        m.join(d, "doc_id")
        .select(
            "doc_id",
            "media_format",
            "n_bytes",
            F.md5("media").alias("content_md5"),
            F.upper(F.hex(F.encode(F.substring("text", 1, 8), "UTF-8"))).alias(
                "head_hex"
            ),
        )
    )


# --- image near-dup: average-hash (aHash) + banded Hamming candidates ----

AHASH_SIDE = 8
AHASH_BANDS = 4  # 4 bands x 16 bits over the 64-bit hash
AHASH_NEAR_MAX_HAMMING = 8
#: the aHash corpus uses larger synthetic images (side 8..12) so every
#: 8x8 sample position hits a DISTINCT source pixel: a 4x4 image carries
#: only 16 bits of hash entropy, which packs band buckets quadratically —
#: exactly the skew an LSH candidate plan must avoid
AHASH_SIDE_BASE = 8
AHASH_PPM_BLOCKS = 27  # ceil(3 * 12^2 / 16) md5 blocks cover side 12

AHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("src_side", LongType()),
        StructField("ahash_bits", StringType()),
        StructField("n_set", LongType()),
    ]
)


def ahash_images(media_df: DataFrame, side: int = AHASH_SIDE) -> DataFrame:
    """Perceptual average-hash over binary P6 PPM media.

    Real decode (``decode_ppm``) → nearest-neighbor stride-sample of the
    red channel to ``side`` x ``side`` (``_ppm_stride``) → bit_i =
    (n·pixel_i >= Σ pixels), an INTEGER compare (no float mean, so no
    rounding grid and no engine drift). Emits the hash as a 64-char
    '0'/'1' string — engine-portable; the pair query packs it into one
    long for the banded join. An undecodable payload yields a NULL-bits
    row (``_media_map``'s corrupt-row contract).

    Reference parity note: the reference pipeline has no image ops; this
    extends its dedup family (WordCount.java-style exact grouping →
    near-dup) to multimodal columns. At 100 TB the hash is one Arrow
    pass over the media partition; only (doc_id, 64-char hash) rows —
    never pixels — reach the shuffle.
    """
    n = side * side

    def decode(payload: bytes) -> tuple[int, list[int]]:
        w, h, _maxval, pix = decode_ppm(payload)
        return w, _ppm_stride(w, h, pix, side)

    def rows(decoded: tuple[int, list[int]]):
        w, vals = decoded
        total = sum(vals)
        s = "".join("1" if v * n >= total else "0" for v in vals)
        return [(w, s, s.count("1"))]

    return _media_map(media_df, AHASH_SCHEMA, decode, rows)


def media_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perceptual hash of the synthetic P6 PPM corpus."""
    m = ppm_from_documents(
        load_table(spark, sf_dir, "documents"),
        side_base=AHASH_SIDE_BASE,
        n_blocks=AHASH_PPM_BLOCKS,
    )
    return ahash_images(m)


def media_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate candidates via banded Hamming LSH.

    The 64-bit aHash splits into ``AHASH_BANDS`` 16-bit bands; two images
    are candidates iff they agree on >= 1 band (SimHash-style banding —
    never an all-pairs cross join, so the plan scales like the text
    ``dedup_simhash_pairs``). Every candidate is emitted with its exact
    Hamming distance (one xor + bit_count over the packed hashes, JVM
    codegen — no Python) and an ``is_near`` verdict at <=
    AHASH_NEAR_MAX_HAMMING bits, so the result is non-trivial even when
    the corpus has no true image dups. ``conv(bits, 2, -10)`` packs all
    64 bits into a signed long (a set top bit reads negative), and the
    packing is injective, so the pairs group exactly as the strings did.
    """
    from .dedup import hamming_band_pairs

    h = (
        media_ahash(spark, sf_dir)
        .select("doc_id", F.conv("ahash_bits", 2, -10).cast("long").alias("h"))
        .localCheckpoint()
    )
    return hamming_band_pairs(h, 64, AHASH_BANDS).withColumn(
        "is_near", F.col("hamming") <= F.lit(AHASH_NEAR_MAX_HAMMING)
    )


# --- audio: real RIFF/WAVE PCM16 synthesis + dependency-free decode ------

WAV_SAMPLE_RATE = 8000
WAV_BLOCKS = 16  # 16 md5 blocks = 256 bytes = 128 samples max
WAV_SILENCE_ABS = 1024  # |sample| below this counts as silence
WAV_SAMPLES_BASE = 64  # n_samples = 64 + 16 * (doc_id % 5) -> 64..128

AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_samples", LongType()),
        StructField("energy", LongType()),
        StructField("peak", LongType()),
        StructField("n_zero_cross", LongType()),
        StructField("silence_ratio", DoubleType()),
    ]
)


def _le_hex(col, nbytes: int):
    """Little-endian hex rendering of an integer column — big-endian
    ``hex()`` zero-padded to ``nbytes``, byte pairs reversed. JVM codegen
    only (hex/lpad/substring/concat)."""
    h = F.lpad(F.lower(F.hex(col)), 2 * nbytes, "0")
    return F.concat(*[F.substring(h, 2 * i + 1, 2) for i in reversed(range(nbytes))])


def wav_from_documents(documents: DataFrame) -> DataFrame:
    """Synthesize a REAL binary RIFF/WAVE file per document — valid RIFF
    header, PCM16 mono ``fmt `` chunk at 8 kHz, and a ``data`` chunk of
    little-endian int16 samples — so the audio path exercises an actual
    container format end-to-end with no codec libraries.

    Sample content is a deterministic md5 chain over the doc's text
    (``md5(text || ':a{i}')`` for i in 0..15, concatenated, unhexed) and
    the clip length is ``64 + 16 * (doc_id % 5)`` samples — both
    replayable by a SQL oracle, which is what makes the audio features
    hash-exact: if the Python RIFF walker mis-parsed a chunk size or
    mis-aligned the int16 stride, every downstream integer diverges.
    All construction is JVM-side codegen (md5/unhex/hex/concat).

    Reference parity note: the reference pipeline is text-only; this
    extends its corpus model (one file = one document,
    WordCount.java:89) to audio columns.
    """
    n = (F.lit(WAV_SAMPLES_BASE) + F.lit(16) * F.pmod(F.col("doc_id"), F.lit(5))).cast(
        "int"
    )
    data_size = (n * 2).cast("int")
    pcm_hex = F.concat(
        *[
            F.md5(F.encode(F.concat(F.col("text"), F.lit(f":a{i}")), "UTF-8"))
            for i in range(WAV_BLOCKS)
        ]
    )
    # constant fields as literal hex: "RIFF"/"WAVE"/"fmt "/16/PCM/mono/
    # 8000 Hz/16000 Bps/block 2/16-bit/"data"
    header_hex = F.concat(
        F.lit("52494646"),
        _le_hex(data_size + F.lit(36), 4),
        F.lit("57415645"),
        F.lit("666d7420"),
        F.lit("10000000"),  # fmt chunk size 16, le32
        F.lit("0100"),  # PCM
        F.lit("0100"),  # mono
        _le_hex(F.lit(WAV_SAMPLE_RATE), 4),
        _le_hex(F.lit(WAV_SAMPLE_RATE * 2), 4),
        F.lit("0200"),  # block align
        F.lit("1000"),  # 16 bits/sample
        F.lit("64617461"),
        _le_hex(data_size, 4),
    )
    return (
        documents.select(
            "doc_id",
            data_size.alias("_ds"),
            header_hex.alias("_hdr"),
            pcm_hex.alias("_pcm"),
        )
        .select(
            "doc_id",
            F.unhex(
                F.concat(F.col("_hdr"), F.expr("substring(_pcm, 1, 2 * _ds)"))
            ).alias("media"),
            F.lit("audio/x-wav").alias("media_format"),
        )
        .withColumn("n_bytes", F.octet_length("media").cast("long"))
    )


def decode_wav(payload: bytes) -> tuple[int, "object"]:
    """Minimal dependency-free RIFF/WAVE PCM16 decoder: validates the
    RIFF/WAVE magic, walks the chunk list (id + le32 size, word-aligned),
    parses ``fmt `` (requires PCM, mono, 16-bit), and returns
    ``(sample_rate, int16 sample array)`` from the ``data`` chunk. The
    second real codec in the container — anything else goes through the
    declared stub seam."""
    import numpy as np

    if payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    idx, rate, data = 12, None, None
    while idx + 8 <= len(payload):
        cid = payload[idx : idx + 4]
        size = int.from_bytes(payload[idx + 4 : idx + 8], "little")
        body = payload[idx + 8 : idx + 8 + size]
        if cid == b"fmt ":
            fmt = int.from_bytes(body[0:2], "little")
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
            if (fmt, channels, bits) != (1, 1, 16):
                raise ValueError("only PCM16 mono supported")
        elif cid == b"data":
            data = body
        idx += 8 + size + (size % 2)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    return rate, np.frombuffer(data, dtype="<i2")


def audio_features(media_df: DataFrame) -> DataFrame:
    """Integer-exact audio features over binary WAV media via
    Arrow-batched ``mapInPandas``: total energy (sum of squared
    samples — int64, no float grid), peak amplitude, zero crossings
    (strict sign flips), and the silence ratio at |v| < 1024 (the only
    float, on the repo-wide 6dp half-up grid).

    At 100 TB this is one Arrow pass over the media partitions; only the
    7-column integer rows shuffle (nothing does — it is map-only). A
    truncated or garbage RIFF yields a NULL-features row (``_media_map``).
    """

    def rows(decoded):
        import numpy as np

        rate, v = decoded
        v64 = v.astype(np.int64)
        n = len(v64)
        silent = int(np.count_nonzero(np.abs(v64) < WAV_SILENCE_ABS))
        return [
            (
                rate,
                n,
                int((v64 * v64).sum()),
                int(np.abs(v64).max()) if n else 0,
                int(np.count_nonzero(v64[:-1] * v64[1:] < 0)),
                math.floor(silent * 1e6 / n + 0.5) / 1e6 if n else 0.0,
            )
        ]

    return _media_map(media_df, AUDIO_FEATURES_SCHEMA, decode_wav, rows)


def media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-feature extraction over the synthetic WAV corpus — the
    REAL-codec audio path (construction and every feature integer-
    replayable by a SQL oracle)."""
    m = wav_from_documents(load_table(spark, sf_dir, "documents"))
    return audio_features(m)


# --- video: real Y4M (YUV4MPEG2) synthesis + scene-cut detection ---------

Y4M_W = 4
Y4M_H = 4
Y4M_FRAME_BYTES = 3 * Y4M_W * Y4M_H  # C444: full-res Y, U, V planes
Y4M_FRAMES_BASE = 8  # n_frames = 8 + 2 * (doc_id % 5) -> 8..16
#: scene length in frames = 2 + doc_id % 3; frames within a scene are
#: byte-identical, so SAD is 0 inside scenes and large at boundaries
Y4M_SCENE_BASE = 2
CUT_MIN_SAD = 48  # >= 1 average level per byte of the 48-byte frame

SCENE_CUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("sad", LongType()),
        StructField("is_cut", BooleanType()),
    ]
)


def y4m_from_documents(documents: DataFrame) -> DataFrame:
    """Synthesize a REAL YUV4MPEG2 stream per document — the standard
    ``YUV4MPEG2 W<w> H<h> F25:1 C444\\n`` header followed by
    ``FRAME\\n``-delimited raw 4:4:4 planes — so the video path
    exercises an actual container format with no codec libraries.

    Frame content is an md5 chain over (text, scene index): scene s of
    doc d covers frames ``[s*(2+d%3), ...)`` and every frame in it is
    the same 48 bytes ``md5(text||':f{s}:0..2')`` — byte-identical
    within a scene, (whp) wildly different across scenes, and fully
    replayable by a SQL oracle. All construction is JVM codegen.

    Reference parity note: the reference corpus model is one file = one
    document (WordCount.java:89); this extends it to framed media.
    """
    n_frames = (
        F.lit(Y4M_FRAMES_BASE) + F.lit(2) * F.pmod(F.col("doc_id"), F.lit(5))
    ).cast("int")
    seg = (F.lit(Y4M_SCENE_BASE) + F.pmod(F.col("doc_id"), F.lit(3))).cast("int")
    max_frames = Y4M_FRAMES_BASE + 2 * 4
    frame_hex = [
        F.concat(
            *[
                F.md5(
                    F.encode(
                        F.concat(
                            F.col("text"),
                            F.lit(":f"),
                            F.floor(F.lit(i) / F.col("_seg")).cast("string"),
                            F.lit(f":{k}"),
                        ),
                        "UTF-8",
                    )
                )
                for k in range(Y4M_FRAME_BYTES // 16)
            ]
        )
        for i in range(max_frames)
    ]
    header = F.encode(
        F.lit(f"YUV4MPEG2 W{Y4M_W} H{Y4M_H} F25:1 C444\n"), "UTF-8"
    )
    body = F.concat(
        *[
            F.when(
                F.lit(i) < F.col("_n"),
                F.concat(
                    F.encode(F.lit("FRAME\n"), "UTF-8"), F.unhex(F.col(f"_f{i}"))
                ),
            ).otherwise(F.lit(b""))
            for i in range(max_frames)
        ]
    )
    staged = documents.select(
        "doc_id", "text", n_frames.alias("_n"), seg.alias("_seg")
    )
    staged = staged.select(
        "doc_id",
        "_n",
        *[frame_hex[i].alias(f"_f{i}") for i in range(max_frames)],
    )
    return staged.select(
        "doc_id",
        F.concat(header, body).alias("media"),
        F.lit("video/x-yuv4mpeg").alias("media_format"),
    ).withColumn("n_bytes", F.octet_length("media").cast("long"))


def decode_y4m(payload: bytes) -> tuple[int, int, list[bytes]]:
    """Minimal dependency-free YUV4MPEG2 parser: the ASCII stream header
    (W/H/C tags), then ``FRAME\\n``-delimited raw planes. Returns
    (width, height, frames). C444 only — the third real codec in the
    container; other chroma modes go through the declared stub seam."""
    nl = payload.index(b"\n")
    head = payload[:nl].split(b" ")
    if head[0] != b"YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = None
    c = b"C420"
    for tag in head[1:]:
        if tag[:1] == b"W":
            w = int(tag[1:])
        elif tag[:1] == b"H":
            h = int(tag[1:])
        elif tag[:1] == b"C":
            c = tag
    if w is None or h is None:
        raise ValueError("missing W/H header tags")
    if w <= 0 or h <= 0:
        # a negative dim would make frame_bytes negative and walk idx
        # BACKWARDS below — an infinite loop, not just a bad decode
        raise ValueError("non-positive frame dimensions")
    if c != b"C444":
        raise ValueError("only C444 supported")
    frame_bytes = 3 * w * h
    frames, idx = [], nl + 1
    while idx < len(payload):
        if payload[idx : idx + 6] != b"FRAME\n":
            raise ValueError("malformed FRAME marker")
        idx += 6
        if len(payload) - idx < frame_bytes:
            raise ValueError("truncated frame")
        frames.append(payload[idx : idx + frame_bytes])
        idx += frame_bytes
    return w, h, frames


def scene_cuts(media_df: DataFrame) -> DataFrame:
    """Scene-cut detection over binary Y4M media via Arrow-batched
    ``mapInPandas``: for every consecutive frame pair, the sum of
    absolute per-byte differences (SAD — an INTEGER, no rounding grid)
    and a cut verdict at ``SAD >= CUT_MIN_SAD``.

    Map-only: frames never reach the shuffle or the driver; only the
    (doc, frame, sad) integer rows come out. At 100 TB this is the
    standard first pass of video curation (shot segmentation before
    per-shot sampling). A malformed stream emits ONE null-frame row
    (``_media_map``) so the damage is visible: a silently absent doc
    would be indistinguishable from a valid single-frame clip, which
    emits no rows."""

    def rows(decoded):
        import numpy as np

        arrs = [np.frombuffer(f, dtype=np.uint8).astype(np.int64) for f in decoded[2]]
        for i in range(1, len(arrs)):
            sad = int(np.abs(arrs[i] - arrs[i - 1]).sum())
            yield i, sad, sad >= CUT_MIN_SAD

    return _media_map(media_df, SCENE_CUT_SCHEMA, decode_y4m, rows)


def media_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot segmentation over the synthetic Y4M corpus — the REAL-codec
    video path (construction and every SAD integer-replayable in SQL)."""
    m = y4m_from_documents(load_table(spark, sf_dir, "documents"))
    return scene_cuts(m)


# ---------------------------------------------------------------------------
# pHash: DCT perceptual hash (integer-scaled, engine-exact)
# ---------------------------------------------------------------------------

#: Fixed-point scale for the DCT basis. With 8x8 pixels <= 255 the
#: coefficient bound is 255 * 64 * PHASH_SCALE^2 ~ 4.4e15 < 2^53, so every
#: coefficient is an exact integer in BOTH engines (and exact as a double).
PHASH_SCALE = 1 << 14

PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("phash_bits", StringType()),
        StructField("n_set", LongType()),
    ]
)


def phash_cmat() -> list[list[int]]:
    """The 8x8 orthonormal DCT-II basis, scaled by PHASH_SCALE and rounded
    to INTEGERS once in Python — the same literal matrix drives the numpy
    kernel and the SQL oracle, so the transform is bit-identical by
    construction (the ``fold_dot_matrix_udf`` trick, taken further: with
    integer arithmetic there is no fold order to match at all)."""
    return [
        [
            round(
                (math.sqrt(1.0 / 8.0) if u == 0 else math.sqrt(2.0 / 8.0))
                * math.cos((2 * r + 1) * u * math.pi / 16.0)
                * PHASH_SCALE
            )
            for r in range(8)
        ]
        for u in range(8)
    ]


def phash_images(media_df: DataFrame) -> DataFrame:
    """Perceptual DCT hash over binary P6 PPM media — the frequency-domain
    sibling of ``ahash_images`` (aHash keys on brightness layout; pHash on
    the low-frequency structure, so it survives brightness shifts that
    flip aHash bits).

    Real decode → the SAME 8x8 stride-sample as aHash → integer-scaled
    2-D DCT (one int64 ``C @ V @ C.T`` per image) → 63 AC coefficients →
    bit_i = (coef_i > median). The median of an odd count is the middle
    ELEMENT — no interpolation — and coefficients are exact integers, so
    the bit decision is engine-portable with no rounding grid anywhere.
    Emits a 63-char '0'/'1' string, bandable exactly like the aHash; an
    undecodable payload yields a NULL-bits row (``_media_map``).
    """
    import numpy as np

    cm = np.array(phash_cmat(), dtype="int64")

    def decode(payload: bytes) -> list[int]:
        w, h, _maxval, pix = decode_ppm(payload)
        return _ppm_stride(w, h, pix, 8)

    def rows(vals: list[int]):
        V = np.array(vals, dtype="int64").reshape(8, 8)
        D = (cm @ V @ cm.T).ravel()
        ac = D[1:]  # row-major (u, v); drop the DC term
        med = float(np.median(ac))
        s = "".join("1" if int(x) > med else "0" for x in ac)
        return [(s, s.count("1"))]

    return _media_map(media_df, PHASH_SCHEMA, decode, rows)


def media_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DCT perceptual hash of the synthetic P6 PPM corpus."""
    m = ppm_from_documents(
        load_table(spark, sf_dir, "documents"),
        side_base=AHASH_SIDE_BASE,
        n_blocks=AHASH_PPM_BLOCKS,
    )
    return phash_images(m)


PHASH_BANDS = 9  # 9 bands x 7 bits: hamming <= 8 pigeonholes into >= 1 clean band
PHASH_NEAR_MAX_HAMMING = 8


def media_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-domain image near-dup candidates: banded Hamming LSH over
    the 63-bit pHash — ``media_ahash_pairs``' structure (agree on >= 1 of
    9 7-bit bands — by pigeonhole a pair within the near threshold of 8
    differing bits ALWAYS shares a clean band, so banding loses no true
    near-dups; exact Hamming verify, never all-pairs) applied to the
    DCT hash, which keys on low-frequency structure rather than
    brightness layout, so the two candidate sets catch different edits.

    The result (candidate-sized) is checkpointed once per session in the
    package memo and reused by the cluster and cross-media consumers —
    the decode + DCT pass over every image is the dominant cost and
    identical in all three queries. The SemDeDup accounting: the OWNER
    query ``mm_phash_pairs`` is pinned WITH the decode + band-join
    materialization; ``mm_phash_clusters`` and ``mm_text_agreement``
    ride the checkpoint. At 100 TB the same reuse is an explicit
    pair-table write shared by the dedup DAG's branches."""
    from ..sources.io import memo, plan_confs, table_fingerprint

    return memo(
        spark,
        sf_dir,
        "phash_pairs",
        (table_fingerprint(sf_dir, "documents"), *plan_confs(spark)),
        lambda: _phash_pairs_compute(spark, sf_dir),
    )


def _phash_pairs_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the 63-bit '0'/'1' hash packs into ONE long before the banded
    # join, so the candidate shuffle carries 8-byte keys instead of two
    # 63-char strings per pair (guide §2.3 — narrower types through the
    # exchange); a NULL hash (corrupt image) drops from the equi-join
    from .dedup import hamming_band_pairs

    h = (
        media_phash(spark, sf_dir)
        .select("doc_id", F.conv("phash_bits", 2, 10).cast("long").alias("h"))
        .localCheckpoint()
    )
    return (
        hamming_band_pairs(h, 63, PHASH_BANDS)
        .withColumn("is_near", F.col("hamming") <= F.lit(PHASH_NEAR_MAX_HAMMING))
        .localCheckpoint()
    )


def media_phash_clusters(
    spark: SparkSession, sf_dir: str, max_iter: int = 20
) -> DataFrame:
    """Image duplicate clusters: connected components over the pHash
    near-pair graph — the media-side completion of ``dedup_clusters``
    (sketch → banded candidates → clusters → keepers), so an image
    corpus dedups with the same end-to-end shape as the text corpus.

    Calls the engine's one min-label propagation
    (``dedup.connected_components``) on the ``is_near`` pHash pairs
    (banded, pigeonhole-complete at Hamming <= 8, never all-pairs):
    iteration shuffles candidate-sized tables only, and the singleton
    remainder — at 100 TB, almost everything — is labeled by one
    broadcast join, never entering the loop. Keeper = the cluster's
    minimum doc_id."""
    from .dedup import connected_components

    conn = connected_components(
        load_table(spark, sf_dir, "documents").select("doc_id"),
        media_phash_pairs(spark, sf_dir).where(F.col("is_near")),
        max_iter=max_iter,
    )
    return conn.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).alias("is_keeper"),
    ).orderBy("doc_id")


#: VAD framing: 16-sample frames (clip lengths are multiples of 16 by
#: construction), active when frame energy >= per-sample threshold x 16.
#: The threshold is the uniform-int16 mean square ((2^16)^2 - 1)/12 —
#: splits hash-uniform frames roughly in half, exercising both states.
VAD_FRAME_SAMPLES = 16
VAD_ENERGY_PER_SAMPLE = 357_913_941


AUDIO_VAD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", LongType()),
        StructField("n_active", LongType()),
        StructField("n_segments", LongType()),
        StructField("longest_segment", LongType()),
        StructField("active_ratio", DoubleType()),
    ]
)


def audio_vad(media_df: DataFrame) -> DataFrame:
    """Voice-activity segmentation over binary WAV media: fixed 16-sample
    frames, a frame is ACTIVE when its integer energy clears the
    per-sample threshold, and consecutive active frames merge into
    segments (the gaps-and-islands rule, run per clip inside the Arrow
    kernel) — the speech-only-extraction primitive an audio pipeline
    runs before transcription, here with every decision integer-exact
    so the RIFF walk + framing replay in SQL with no grid to hide
    behind.

    Map-only ``mapInPandas``; media bytes never leave the executor, six
    integer/ratio columns per clip come back (a NULL row for a corrupt
    clip, ``_media_map``)."""

    def rows(decoded):
        import numpy as np

        v64 = decoded[1].astype(np.int64)
        n_frames = len(v64) // VAD_FRAME_SAMPLES
        e = (
            (v64[: n_frames * VAD_FRAME_SAMPLES] ** 2)
            .reshape(n_frames, VAD_FRAME_SAMPLES)
            .sum(axis=1)
        )
        active = e >= VAD_ENERGY_PER_SAMPLE * VAD_FRAME_SAMPLES
        n_active = int(active.sum())
        segs, longest, run_len = 0, 0, 0
        for a in active:
            if a:
                run_len += 1
                if run_len == 1:
                    segs += 1
                longest = max(longest, run_len)
            else:
                run_len = 0
        ratio = (
            math.floor(n_active * 1e6 / n_frames + 0.5) / 1e6 if n_frames else 0.0
        )
        return [(n_frames, n_active, segs, longest, ratio)]

    return _media_map(media_df, AUDIO_VAD_SCHEMA, decode_wav, rows)


def media_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VAD over the synthetic WAV corpus — REAL-codec decode, integer
    framing, SQL-replayable end to end."""
    m = wav_from_documents(load_table(spark, sf_dir, "documents"))
    return audio_vad(m).orderBy("doc_id")


def media_text_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-MEDIA dedup diagnostic, the image-vs-text analogue of
    ``dedup_semantic_lexical_agreement``: each document has both a text
    body and a rendered image, so the pHash near-pairs and the lexical
    (shingle-Jaccard) near-pairs should largely corroborate — the 1-row
    report (pair counts per modality, intersection, pair-set Jaccard)
    measures whether the cheap image pass can pre-screen for the text
    pass (or vice versa) on a given corpus, rather than assuming it.

    Both inputs are banded candidate paths (never all-pairs); the
    agreement join runs between two candidate-sized pair relations."""
    from .dedup import MINHASH_PRECISION_THRESHOLD, jaccard_verified_pairs

    lex = (
        jaccard_verified_pairs(spark, sf_dir)
        .where(F.col("jaccard") >= MINHASH_PRECISION_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    img = (
        media_phash_pairs(spark, sf_dir)
        .where(F.col("is_near"))
        .select("doc_a", "doc_b")
    )
    both = lex.withColumn("_lex", F.lit(1)).join(
        img.withColumn("_img", F.lit(1)), ["doc_a", "doc_b"], "full_outer"
    )
    n_lex = F.sum(F.coalesce(F.col("_lex"), F.lit(0))).cast("long")
    n_img = F.sum(F.coalesce(F.col("_img"), F.lit(0))).cast("long")
    n_both = F.sum(
        F.when(
            F.col("_lex").isNotNull() & F.col("_img").isNotNull(), 1
        ).otherwise(0)
    ).cast("long")
    n_union = F.count("*").cast("long")
    return both.agg(
        n_lex.alias("n_lexical_pairs"),
        n_img.alias("n_image_pairs"),
        n_both.alias("n_both"),
        n_union.alias("n_union"),
        F.when(
            n_union > 0,
            r6(n_both / n_union),
        )
        .otherwise(F.lit(0.0))
        .alias("pair_set_jaccard"),
    )
