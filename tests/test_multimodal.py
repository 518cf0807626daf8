"""Multimodal plumbing: binary columns, Arrow-batched stub decode."""

from __future__ import annotations

import pytest

import hashlib

from tf_idf_mapreduce_spark.operators.multimodal import (
    N_FEATURES,
    PPM_BLOCKS,
    THUMB_SIDE,
    decode_media,
    decode_ppm,
    extract_media_features,
    frame_sample,
    media_from_documents,
    ppm_from_documents,
    resize_thumbnails,
)


def test_decode_stub_strict_mode_raises():
    with pytest.raises(NotImplementedError):
        decode_media(b"\x00\x01", "image/png", fake=False)


def test_decode_stub_deterministic_histogram():
    payload = bytes(range(64))
    f1 = decode_media(payload, "application/octet-stream")
    f2 = decode_media(payload, "application/octet-stream")
    assert f1 == f2
    assert len(f1) == N_FEATURES
    assert abs(sum(f1) - 1.0) < 1e-6


def test_extract_media_features_end_to_end(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "")], "doc_id long, text string"
    )
    media = media_from_documents(docs)
    rows = {r.doc_id: r for r in extract_media_features(media).collect()}
    assert rows[1].n_bytes == 11
    assert rows[2].n_bytes == 0
    assert rows[1].format == "text/plain"
    assert len(rows[1].features) == N_FEATURES
    # histogram over real bytes: sums to ~1 for non-empty payloads
    assert abs(sum(rows[1].features) - 1.0) < 1e-5


def test_frame_sample_covers_every_other_frame(spark, sf_dir):
    frames = frame_sample(spark, sf_dir).collect()
    assert frames
    for r in frames:
        assert r.frame_idx % 2 == 0
        assert 0 < r.frame_bytes <= 256
        assert len(r.frame_md5) == 32
    # deterministic: same digest on re-run
    again = {(r.doc_id, r.frame_idx): r.frame_md5 for r in frame_sample(spark, sf_dir).collect()}
    for r in frames:
        assert again[(r.doc_id, r.frame_idx)] == r.frame_md5


def test_resize_thumbnails_stride_sampling(spark):
    payload = bytes(range(256))  # a 16x16 "bitmap"
    docs = spark.createDataFrame(
        [(1, payload.decode("latin-1"))], "doc_id long, text string"
    )
    # build media directly to keep the payload byte-exact (latin-1 would
    # re-encode multi-byte in UTF-8)
    from pyspark.sql import functions as F

    media = docs.select("doc_id", F.lit(payload).alias("media"))
    r = resize_thumbnails(media).head()
    assert r.src_side == 16
    assert r.thumb_side == THUMB_SIDE
    expected = bytearray()
    for row in range(8):
        for c in range(8):
            expected.append(payload[(row * 16 // 8) * 16 + (c * 16 // 8)])
    # digest of the uppercase-hex rendering (engine-portable, same
    # convention as frame_sample's frame_md5)
    assert r.thumb_md5 == hashlib.md5(bytes(expected).hex().upper().encode()).hexdigest()


def test_resize_strict_mode_raises(spark):
    from pyspark.sql import functions as F
    import pytest as _pytest

    media = spark.createDataFrame([(1,)], "doc_id long").select(
        "doc_id", F.lit(b"xyz").alias("media")
    )
    with _pytest.raises(Exception):
        resize_thumbnails(media, fake=False).collect()


def test_media_binary_roundtrip(spark):
    docs = spark.createDataFrame([(1, "héllo")], "doc_id long, text string")
    r = media_from_documents(docs).head()
    assert bytes(r.media).decode("utf-8") == "héllo"
    assert r.n_bytes == 6  # é is 2 bytes in UTF-8


def test_decode_ppm_parses_header_and_raster():
    pix = bytes(range(3 * 2 * 2))
    payload = b"P6\n# a comment\n2 2\n255\n" + pix
    w, h, maxval, raster = decode_ppm(payload)
    assert (w, h, maxval) == (2, 2, 255)
    assert raster == pix
    with pytest.raises(ValueError):
        decode_ppm(b"P5\n2 2\n255\n" + pix)  # grayscale PGM: not P6
    with pytest.raises(ValueError):
        decode_ppm(b"P6\n2 2\n65535\n" + pix)  # 2-byte channels


def test_ppm_resize_matches_python_replay(spark):
    """End-to-end hash parity: the Spark-side PPM build + real decode +
    stride sample must equal a from-scratch Python replay of the same
    deterministic arithmetic (what the DuckDB oracle does in SQL)."""
    docs = spark.createDataFrame(
        [(0, "alpha"), (3, "beta gamma"), (7, "")], "doc_id long, text string"
    )
    got = {
        r.doc_id: r for r in resize_thumbnails(ppm_from_documents(docs)).collect()
    }
    for doc_id, text in [(0, "alpha"), (3, "beta gamma"), (7, "")]:
        s = 4 + doc_id % 5
        hexpix = "".join(
            hashlib.md5(f"{text}:{i}".encode()).hexdigest() for i in range(PPM_BLOCKS)
        )
        pix = bytes.fromhex(hexpix)[: 3 * s * s]
        thumb = bytearray()
        for r in range(THUMB_SIDE):
            for c in range(THUMB_SIDE):
                sr, sc = r * s // THUMB_SIDE, c * s // THUMB_SIDE
                thumb.append(pix[3 * (sr * s + sc)])
        want = hashlib.md5(bytes(thumb).hex().upper().encode()).hexdigest()
        assert got[doc_id].src_side == s
        assert got[doc_id].thumb_md5 == want


def test_ppm_strict_mode_decodes_for_real(spark):
    """fake=False must now SUCCEED on P6 (a real codec exists for it) and
    keep raising on opaque bytes — the documented seam."""
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    rows = resize_thumbnails(ppm_from_documents(docs), fake=False).collect()
    assert rows and rows[0].src_side == 5


def _p6(side: int, pix: bytes) -> bytes:
    return f"P6\n{side} {side}\n255\n".encode() + pix


def test_ahash_known_image(spark):
    from tf_idf_mapreduce_spark.operators.multimodal import ahash_images

    # top half bright (200), bottom half dark (10): mean = 105, so the
    # hash must be exactly 32 ones then 32 zeros
    side = 8
    pix = bytearray()
    for r in range(side):
        v = 200 if r < 4 else 10
        pix += bytes([v, 0, 0]) * side
    media = spark.createDataFrame(
        [(1, bytearray(_p6(side, bytes(pix))))], "doc_id long, media binary"
    )
    row = ahash_images(media).collect()[0]
    assert row.ahash_bits == "1" * 32 + "0" * 32
    assert row.n_set == 32
    assert row.src_side == 8


def test_ahash_identical_images_collide(spark):
    from tf_idf_mapreduce_spark.operators.multimodal import (
        AHASH_PPM_BLOCKS,
        AHASH_SIDE_BASE,
        ahash_images,
        ppm_from_documents,
    )

    # same text + same (doc_id % 5) -> byte-identical synthetic PPM ->
    # identical aHash; different text -> (whp) different hash
    docs = spark.createDataFrame(
        [(0, "the same text"), (5, "the same text"), (1, "other text")],
        "doc_id long, text string",
    )
    m = ppm_from_documents(docs, side_base=AHASH_SIDE_BASE, n_blocks=AHASH_PPM_BLOCKS)
    got = {r.doc_id: r.ahash_bits for r in ahash_images(m).collect()}
    assert got[0] == got[5]
    assert got[0] != got[1]
    assert set(got[0]) <= {"0", "1"} and len(got[0]) == 64


def test_decode_wav_parses_riff_chunks():
    import numpy as np

    from tf_idf_mapreduce_spark.operators.multimodal import decode_wav

    samples = np.array([0, 1000, -1000, 32767, -32768], dtype="<i2")
    data = samples.tobytes()
    hdr = (
        b"RIFF"
        + (36 + len(data)).to_bytes(4, "little")
        + b"WAVEfmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")
        + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little")
        + (16000).to_bytes(4, "little")
        + (2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
        + b"data"
        + len(data).to_bytes(4, "little")
    )
    rate, v = decode_wav(hdr + data)
    assert rate == 8000
    assert list(v) == list(samples)
    with pytest.raises(ValueError):
        decode_wav(b"OggS" + bytes(40))  # not RIFF
    # stereo must be rejected (PCM16 MONO only)
    bad = bytearray(hdr + data)
    bad[22] = 2
    with pytest.raises(ValueError):
        decode_wav(bytes(bad))


def test_decode_wav_roundtrips_arbitrary_pcm():
    """Property: any int16 sample sequence survives a WAV build+decode
    round-trip byte-exactly, regardless of chunk-walk edge cases (odd
    data sizes word-align, unknown chunks are skipped)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import numpy as np

    from tf_idf_mapreduce_spark.operators.multimodal import decode_wav

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(st.integers(-32768, 32767), min_size=0, max_size=64),
        st.booleans(),
    )
    def check(samples, extra_chunk):
        arr = np.array(samples, dtype="<i2")
        data = arr.tobytes()
        fmt = (
            b"fmt "
            + (16).to_bytes(4, "little")
            + (1).to_bytes(2, "little")
            + (1).to_bytes(2, "little")
            + (8000).to_bytes(4, "little")
            + (16000).to_bytes(4, "little")
            + (2).to_bytes(2, "little")
            + (16).to_bytes(2, "little")
        )
        # an unknown chunk with an ODD size: the walker must word-align
        junk = b"LIST" + (3).to_bytes(4, "little") + b"abc\x00" if extra_chunk else b""
        body = fmt + junk + b"data" + len(data).to_bytes(4, "little") + data
        payload = b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"WAVE" + body
        rate, got = decode_wav(payload)
        assert rate == 8000
        assert got.tobytes() == data

    check()


def test_wav_features_match_python_replay(spark):
    """End-to-end integer parity: Spark-side WAV build + real RIFF decode
    + feature kernel must equal a from-scratch Python replay of the md5
    chain (what the DuckDB oracle does in SQL)."""
    import math

    import numpy as np

    from tf_idf_mapreduce_spark.operators.multimodal import (
        WAV_BLOCKS,
        WAV_SAMPLES_BASE,
        WAV_SILENCE_ABS,
        audio_features,
        wav_from_documents,
    )

    rows = [(0, "alpha"), (3, "beta gamma"), (7, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in audio_features(wav_from_documents(docs)).collect()}
    for doc_id, text in rows:
        n = WAV_SAMPLES_BASE + 16 * (doc_id % 5)
        pcm = b"".join(
            hashlib.md5(f"{text}:a{i}".encode()).digest() for i in range(WAV_BLOCKS)
        )[: 2 * n]
        v = np.frombuffer(pcm, dtype="<i2").astype(np.int64)
        r = got[doc_id]
        assert r.sample_rate == 8000
        assert r.n_samples == n
        assert r.energy == int((v * v).sum())
        assert r.peak == int(np.abs(v).max())
        assert r.n_zero_cross == int(np.count_nonzero(v[:-1] * v[1:] < 0))
        silent = int(np.count_nonzero(np.abs(v) < WAV_SILENCE_ABS))
        assert r.silence_ratio == math.floor(silent * 1e6 / n + 0.5) / 1e6


def test_decode_y4m_parses_header_and_frames():
    from tf_idf_mapreduce_spark.operators.multimodal import decode_y4m

    f0, f1 = bytes(range(48)), bytes(range(48, 96))
    payload = b"YUV4MPEG2 W4 H4 F25:1 C444\n" + b"FRAME\n" + f0 + b"FRAME\n" + f1
    w, h, frames = decode_y4m(payload)
    assert (w, h) == (4, 4)
    assert frames == [f0, f1]
    with pytest.raises(ValueError):
        decode_y4m(b"RIFF....")  # not YUV4MPEG2
    with pytest.raises(ValueError):
        decode_y4m(b"YUV4MPEG2 W4 H4 C420\nFRAME\n" + bytes(24))  # chroma seam
    with pytest.raises(ValueError):
        decode_y4m(b"YUV4MPEG2 W4 H4 C444\nFRAMX\n" + f0)  # bad marker


def test_decode_y4m_roundtrips_arbitrary_frames():
    """Property: any frame sequence survives a Y4M build+decode
    round-trip byte-exactly, including zero frames and frames whose
    bytes contain the FRAME marker text."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tf_idf_mapreduce_spark.operators.multimodal import decode_y4m

    @settings(max_examples=60, deadline=None)
    @given(st.lists(st.binary(min_size=48, max_size=48), min_size=0, max_size=6))
    def check(frames):
        payload = b"YUV4MPEG2 W4 H4 F25:1 C444\n" + b"".join(
            b"FRAME\n" + f for f in frames
        )
        w, h, got = decode_y4m(payload)
        assert (w, h) == (4, 4)
        assert got == frames

    check()


def test_scene_cuts_match_python_replay(spark):
    """End-to-end integer parity: the Spark-side Y4M build + real decode
    + SAD kernel must equal a from-scratch Python replay of the scene
    chain (what the DuckDB oracle does in SQL): SAD is 0 inside a scene
    and >= CUT_MIN_SAD exactly at scene boundaries."""
    import numpy as np

    from tf_idf_mapreduce_spark.operators.multimodal import (
        CUT_MIN_SAD,
        Y4M_FRAMES_BASE,
        Y4M_SCENE_BASE,
        scene_cuts,
        y4m_from_documents,
    )

    rows = [(0, "alpha"), (4, "beta gamma"), (8, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.frame_idx): r
        for r in scene_cuts(y4m_from_documents(docs)).collect()
    }
    n_rows = 0
    for doc_id, text in rows:
        n = Y4M_FRAMES_BASE + 2 * (doc_id % 5)
        seg = Y4M_SCENE_BASE + doc_id % 3

        def frame(i):
            s = i // seg
            return np.frombuffer(
                b"".join(
                    hashlib.md5(f"{text}:f{s}:{k}".encode()).digest()
                    for k in range(3)
                ),
                dtype=np.uint8,
            ).astype(np.int64)

        for i in range(1, n):
            want_sad = int(np.abs(frame(i) - frame(i - 1)).sum())
            r = got[(doc_id, i)]
            assert r.sad == want_sad
            assert r.is_cut == (want_sad >= CUT_MIN_SAD)
            # scene structure: zero SAD inside scenes, a cut at boundaries
            if i % seg == 0:
                assert r.is_cut, (doc_id, i)
            else:
                assert r.sad == 0, (doc_id, i)
            n_rows += 1
    assert len(got) == n_rows


def test_ahash_pairs_hamming_is_exact(spark, sf_dir):
    from tf_idf_mapreduce_spark.operators.multimodal import (
        media_ahash,
        media_ahash_pairs,
    )

    bits = {r.doc_id: r.ahash_bits for r in media_ahash(spark, sf_dir).collect()}
    pairs = media_ahash_pairs(spark, sf_dir).collect()
    assert pairs, "banded candidates should exist at this corpus size"
    for p in pairs:
        expect = sum(
            x != y for x, y in zip(bits[p.doc_a], bits[p.doc_b])
        )
        assert p.hamming == expect
        assert p.is_near == (p.hamming <= 8)
        assert 1 <= p.n_bands_shared <= 4


def test_phash_brightness_shift_invariant(spark):
    """DCT linearity law: a uniform brightness shift moves ONLY the DC
    coefficient, so the 63 AC bits — and therefore the pHash — are
    IDENTICAL. (aHash is also shift-invariant by its mean compare; the
    pHash proof is exact integer linearity, pinned here.)"""
    import hashlib

    from tf_idf_mapreduce_spark.operators.multimodal import phash_images

    side = 8
    base = bytearray()
    for i in range(side * side):
        v = hashlib.md5(str(i).encode()).digest()[0] % 200  # <= 199, room for +40
        base += bytes([v, 0, 0])
    shifted = bytearray()
    for i in range(0, len(base), 3):
        shifted += bytes([base[i] + 40, base[i + 1], base[i + 2]])
    media = spark.createDataFrame(
        [
            (1, bytearray(_p6(side, bytes(base)))),
            (2, bytearray(_p6(side, bytes(shifted)))),
        ],
        "doc_id long, media binary",
    )
    rows = {r.doc_id: r for r in phash_images(media).collect()}
    assert len(rows[1].phash_bits) == 63
    assert rows[1].phash_bits == rows[2].phash_bits
    assert rows[1].n_set == rows[1].phash_bits.count("1")


def test_phash_differs_across_structures(spark):
    """Different spatial structures hash differently (sanity against a
    degenerate constant hash)."""
    from tf_idf_mapreduce_spark.operators.multimodal import phash_images

    side = 8
    stripes = bytearray()
    for r in range(side):
        v = 200 if r % 2 == 0 else 10
        stripes += bytes([v, 0, 0]) * side
    halves = bytearray()
    for r in range(side):
        v = 200 if r < 4 else 10
        halves += bytes([v, 0, 0]) * side
    media = spark.createDataFrame(
        [
            (1, bytearray(_p6(side, bytes(stripes)))),
            (2, bytearray(_p6(side, bytes(halves)))),
        ],
        "doc_id long, media binary",
    )
    rows = {r.doc_id: r for r in phash_images(media).collect()}
    assert rows[1].phash_bits != rows[2].phash_bits


def test_phash_pairs_pigeonhole_completeness(spark, sf_dir):
    """Banding law: every pair within the near threshold (hamming <= 8
    over 9x7-bit bands) MUST surface as a candidate — verified against
    numpy all-pairs ground truth over the full fixture."""
    import numpy as np

    from tf_idf_mapreduce_spark.operators.multimodal import (
        PHASH_NEAR_MAX_HAMMING,
        media_phash,
        media_phash_pairs,
    )

    bits = {
        r.doc_id: np.array([int(c) for c in r.phash_bits], dtype=np.int8)
        for r in media_phash(spark, sf_dir).collect()
    }
    got = {
        (r.doc_a, r.doc_b): (r.hamming, r.is_near)
        for r in media_phash_pairs(spark, sf_dir).collect()
    }
    ids = sorted(bits)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ham = int((bits[a] != bits[b]).sum())
            if ham <= PHASH_NEAR_MAX_HAMMING:
                assert (a, b) in got, (a, b, ham)
                assert got[(a, b)] == (ham, True)
    # and every emitted hamming agrees with ground truth
    for (a, b), (ham, near) in got.items():
        assert ham == int((bits[a] != bits[b]).sum())
        assert near == (ham <= PHASH_NEAR_MAX_HAMMING)


def _wav(samples: list[int]) -> bytes:
    import numpy as np

    data = np.array(samples, dtype="<i2").tobytes()
    body = (
        b"fmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")
        + (1).to_bytes(2, "little")
        + (8000).to_bytes(4, "little")
        + (16000).to_bytes(4, "little")
        + (2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
        + b"data"
        + len(data).to_bytes(4, "little")
        + data
    )
    return b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"WAVE" + body


def _y4m(frames: list[bytes]) -> bytes:
    return b"YUV4MPEG2 W4 H4 F25:1 C444\n" + b"".join(b"FRAME\n" + f for f in frames)


_P6_OK = _p6(8, bytes([100, 0, 0]) * 64)
_WAV_OK = _wav([5000, -5000, 0, 12] * 8)
_Y4M_OK = _y4m([bytes(48), bytes([200]) * 48])

#: kernel -> (valid, garbage, truncated) payloads of its format
_MEDIA_KERNEL_CASES = {
    # resize's stub decodes any non-P6 bytes, so its garbage keeps the magic
    "resize_thumbnails": (_P6_OK, b"P6 garbage dims!", b"P6\n8 8\n255\n\x01\x02"),
    "ahash_images": (_P6_OK, b"NOTAPPM!!!", b"P6\n8 8\n255\n\x01\x02"),
    "phash_images": (_P6_OK, b"NOTAPPM!!!", b"P6\n8 8\n255\n\x01\x02"),
    "audio_features": (_WAV_OK, b"NOTAWAV!" * 4, _WAV_OK[:30]),
    "audio_vad": (_WAV_OK, b"NOTAWAV!" * 4, _WAV_OK[:30]),
    "scene_cuts": (_Y4M_OK, b"garbage bytes", _Y4M_OK[:40]),
}


@pytest.mark.parametrize("kernel", sorted(_MEDIA_KERNEL_CASES))
def test_hash_kernels_null_row_corrupt_media(spark, kernel):
    """Reader contract on every decoding media kernel: an undecodable
    payload (garbage bytes, or a truncated payload of the kernel's own
    format) yields ONE row of its doc_id and NULLs — damage visible —
    while the batch's valid rows decode normally and the job never
    aborts. Resize's corrupt row still carries ``thumb_side``."""
    from tf_idf_mapreduce_spark.operators import multimodal

    valid, garbage, truncated = _MEDIA_KERNEL_CASES[kernel]
    media = spark.createDataFrame(
        [(1, bytearray(valid)), (2, bytearray(garbage)), (3, bytearray(truncated))],
        "doc_id long, media binary",
    )
    rows = getattr(multimodal, kernel)(media).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.asDict())
    assert set(by_doc) == {1, 2, 3}
    # scene cuts: one row per consecutive frame pair of the 2-frame clip
    assert len(by_doc[1]) == 1
    assert all(v is not None for v in by_doc[1][0].values())
    kept = {"doc_id", "thumb_side"} if kernel == "resize_thumbnails" else {"doc_id"}
    for bad in (2, 3):
        assert len(by_doc[bad]) == 1, (bad, by_doc[bad])
        row = by_doc[bad][0]
        assert all(v is None for k, v in row.items() if k not in kept), row
        if kernel == "resize_thumbnails":
            assert row["thumb_side"] == THUMB_SIDE


def test_scene_cuts_single_frame_clip_emits_no_rows(spark):
    """A decoded clip may yield zero rows: a single-frame clip has no
    consecutive pair, so it emits nothing (unlike a corrupt clip's one
    NULL row)."""
    from tf_idf_mapreduce_spark.operators.multimodal import scene_cuts

    media = spark.createDataFrame(
        [(1, bytearray(_y4m([bytes(48)]))), (2, bytearray(_Y4M_OK))],
        "doc_id long, media binary",
    )
    got = [(r.doc_id, r.frame_idx, r.sad, r.is_cut) for r in scene_cuts(media).collect()]
    assert got == [(2, 1, 200 * 48, True)]


def test_phash_clusters_laws(spark, sf_dir):
    """Every doc gets a label; keeper = cluster minimum; every is_near
    pair lands in the same cluster (edges are never split); singletons
    keep themselves."""
    from tf_idf_mapreduce_spark.operators.multimodal import (
        media_phash_clusters,
        media_phash_pairs,
    )
    from tf_idf_mapreduce_spark.sources.io import load_table

    labels = {
        r.doc_id: (r.cluster_id, r.is_keeper)
        for r in media_phash_clusters(spark, sf_dir).collect()
    }
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(labels) == n_docs
    for doc, (cl, keep) in labels.items():
        assert cl <= doc
        assert keep == (cl == doc)
    near = [
        (r.doc_a, r.doc_b)
        for r in media_phash_pairs(spark, sf_dir).collect()
        if r.is_near
    ]
    for a, b in near:
        assert labels[a][0] == labels[b][0], (a, b)
    clustered = {d for a, b in near for d in (a, b)}
    for doc in set(labels) - clustered:
        assert labels[doc][0] == doc


def test_audio_vad_islands_replay(spark, sf_dir):
    """Python replay of the whole VAD rule from the decoded samples:
    framing, integer threshold, and the island merge — and the laws
    n_active = sum of segment lengths, longest <= n_active <= n_frames."""
    import numpy as np

    from tf_idf_mapreduce_spark.operators.multimodal import (
        VAD_ENERGY_PER_SAMPLE,
        VAD_FRAME_SAMPLES,
        decode_wav,
        media_audio_vad,
        wav_from_documents,
    )
    from tf_idf_mapreduce_spark.sources.io import load_table

    media = {
        r.doc_id: bytes(r.media)
        for r in wav_from_documents(
            load_table(spark, sf_dir, "documents")
        ).collect()
    }
    got = {r.doc_id: r for r in media_audio_vad(spark, sf_dir).collect()}
    assert set(got) == set(media)
    for doc_id, payload in list(media.items())[:20]:
        _rate, v = decode_wav(payload)
        v64 = v.astype(np.int64)
        nf = len(v64) // VAD_FRAME_SAMPLES
        e = (v64[: nf * VAD_FRAME_SAMPLES] ** 2).reshape(nf, -1).sum(axis=1)
        active = e >= VAD_ENERGY_PER_SAMPLE * VAD_FRAME_SAMPLES
        segs = []
        run = 0
        for a in active:
            run = run + 1 if a else 0
            if run == 1 and a:
                segs.append(1)
            elif a:
                segs[-1] += 1
        r = got[doc_id]
        assert r.n_frames == nf
        assert r.n_active == int(active.sum()) == sum(segs)
        assert r.n_segments == len(segs)
        assert r.longest_segment == (max(segs) if segs else 0)
        assert r.longest_segment <= r.n_active <= r.n_frames


def test_media_text_agreement_recounts_from_sources(spark, sf_dir):
    """The 1-row report recounts from the two pair relations it
    composes, and its set algebra holds (both <= each side, union =
    lex + img - both)."""
    from tf_idf_mapreduce_spark.operators.dedup import (
        MINHASH_PRECISION_THRESHOLD,
        jaccard_verified_pairs,
    )
    from tf_idf_mapreduce_spark.operators.multimodal import (
        media_phash_pairs,
        media_text_agreement,
    )

    lex = {
        (r.doc_a, r.doc_b)
        for r in jaccard_verified_pairs(spark, sf_dir).collect()
        if r.jaccard >= MINHASH_PRECISION_THRESHOLD
    }
    img = {
        (r.doc_a, r.doc_b)
        for r in media_phash_pairs(spark, sf_dir).collect()
        if r.is_near
    }
    r = media_text_agreement(spark, sf_dir).head()
    assert r.n_lexical_pairs == len(lex)
    assert r.n_image_pairs == len(img)
    assert r.n_both == len(lex & img)
    assert r.n_union == len(lex | img) == (
        r.n_lexical_pairs + r.n_image_pairs - r.n_both
    )
    if r.n_union:
        assert r.pair_set_jaccard == round(r.n_both / r.n_union, 6)


def test_media_kernels_share_one_batch_loop():
    """Each concept once: in ``multimodal.py`` only the shared media
    kernel ``_media_map`` (which owns the corrupt-row loop) and the
    contract-free stub extractor call ``mapInPandas``; every decoding
    operator hands it a ``decode`` and a ``rows`` step instead."""
    import ast
    from pathlib import Path

    from tf_idf_mapreduce_spark.operators import multimodal

    tree = ast.parse(Path(multimodal.__file__).read_text())
    callers = {
        fn.name
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef)
        for n in ast.walk(fn)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "mapInPandas"
    }
    assert callers == {"_media_map", "extract_media_features"}
