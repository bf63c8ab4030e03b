"""Multimodal tests (north star §2.11): the REAL stdlib codecs
(PNG/BMP/PNM exact decode, nearest-neighbor resize), the dhash
near-duplicate join, PNGSEQ1 video frame dedup and the
NotImplementedError boundary for formats that need a native library
(JPEG, non-PNGSEQ1 video)."""

from __future__ import annotations

import pytest
from pyspark.errors import PythonException

from etl_airbnb_mex_spark.multimodal import (
    MEDIA_SCHEMA,
    image_dhash,
    video_frame_dedup,
)


# ---------------------------------------------------------------------------
# REAL stdlib codecs (multimodal/codecs.py): exact decode, no PIL/libav
# ---------------------------------------------------------------------------


def _checker(h, w, c):
    import numpy as np

    img = np.zeros((h, w, c), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            img[y, x] = [(y * 31 + x * 7 + ch * 13) % 256 for ch in range(c)]
    return img


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_png_roundtrip_exact(channels):
    import numpy as np

    from etl_airbnb_mex_spark.multimodal.codecs import png_decode, png_encode

    img = _checker(13, 7, channels)
    assert np.array_equal(png_decode(png_encode(img)), img)


def test_png_decode_all_filter_types():
    """Decode a PNG whose scanlines use every filter type (0-4),
    built by applying the spec's filter math to known pixels — the
    decoder must invert each one exactly."""
    import struct
    import zlib

    import numpy as np

    from etl_airbnb_mex_spark.multimodal.codecs import _paeth, png_decode

    img = _checker(5, 6, 3)
    h, w, c = img.shape
    stride = w * c
    flat = img.reshape(h, stride).astype(int)
    raw = b""
    prev = [0] * stride
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        line = list(flat[y])
        enc = []
        for i in range(stride):
            left = line[i - c] if i >= c else 0
            up = prev[i]
            ul = prev[i - c] if i >= c else 0
            pred = {
                0: 0,
                1: left,
                2: up,
                3: (left + up) >> 1,
                4: _paeth(left, up, ul),
            }[ftype]
            enc.append((line[i] - pred) & 0xFF)
        raw += bytes([ftype]) + bytes(enc)
        prev = line

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(png_decode(png), img)


def test_bmp_decode_matches_reference_layout():
    """Hand-assemble a 3×2 24-bit bottom-up BMP with row padding; the
    decoder must return top-down RGB."""
    import struct

    import numpy as np

    from etl_airbnb_mex_spark.multimodal.codecs import bmp_decode

    img = _checker(2, 3, 3)
    row_bytes = (3 * 3 + 3) & ~3  # 12
    pixel_data = b""
    for y in (1, 0):  # bottom-up
        row = b"".join(bytes(img[y, x][::-1]) for x in range(3))  # BGR
        pixel_data += row + b"\x00" * (row_bytes - len(row))
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(pixel_data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 24, 0, len(pixel_data),
                      2835, 2835, 0, 0)
    )
    assert np.array_equal(bmp_decode(header + pixel_data), img)


def test_pnm_roundtrip():
    import numpy as np

    from etl_airbnb_mex_spark.multimodal.codecs import pnm_decode

    img = _checker(4, 5, 3)
    ppm = b"P6\n# comment\n5 4\n255\n" + img.tobytes()
    assert np.array_equal(pnm_decode(ppm), img)
    gray = _checker(4, 5, 1)
    pgm = b"P5 5 4 255\n" + gray.tobytes()
    assert np.array_equal(pnm_decode(pgm), gray)


def test_resize_nearest_exact_downscale():
    import numpy as np

    from etl_airbnb_mex_spark.multimodal.codecs import resize_nearest

    img = _checker(4, 4, 3)
    out = resize_nearest(img, 2, 2)
    assert np.array_equal(out, img[::2, ::2])


def test_image_dhash_near_dup_detection(spark):
    """dhash must cluster near-duplicate images (same picture + light
    noise / re-encode) and separate unrelated pictures; the banded
    join's pair set must equal the brute-force hamming pair set
    (recall guarantee: max_hamming < bands)."""
    import numpy as np

    from etl_airbnb_mex_spark.multimodal.codecs import png_encode
    from etl_airbnb_mex_spark.multimodal.ops import (
        image_dhash,
        image_near_dup_pairs,
    )

    rng = np.random.RandomState(3)
    rows = []
    # 5 base images; each contributes the original + a lightly-noised
    # near-duplicate. Use smooth gradients so dhash is noise-stable.
    for b in range(5):
        base = np.add.outer(
            np.linspace(0, 255, 24), np.linspace(0, 255 - b * 40, 32)
        ) / 2 + b * 7
        base = base.astype(np.uint8)
        noisy = base.astype(np.int16) + rng.randint(-2, 3, base.shape)
        noisy = np.clip(noisy, 0, 255).astype(np.uint8)
        rows.append((2 * b, "image", bytearray(png_encode(base)),
                     (32, 24, None, 1, "png")))
        rows.append((2 * b + 1, "image", bytearray(png_encode(noisy)),
                     (32, 24, None, 1, "png")))
    from etl_airbnb_mex_spark.multimodal.ops import MEDIA_SCHEMA

    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    hashes = image_dhash(df)
    hv = {r.media_id: r.dhash for r in hashes.collect()}
    assert len(hv) == 10
    got = {
        (r.id_a, r.id_b)
        for r in image_near_dup_pairs(hashes, max_hamming=6).collect()
    }

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    want = {
        (i, j)
        for i in hv for j in hv
        if i < j and ham(hv[i], hv[j]) <= 6
    }
    assert got == want                      # banded join == brute force
    for b in range(5):
        assert (2 * b, 2 * b + 1) in want   # noised twin is a near-dup


def test_video_pngseq_frame_dedup(spark):
    """Real video plumbing: a PNGSEQ1 container of real PNG frames —
    static runs collapse to their first frame, scene changes survive.
    Frames: A, A+noise, B, A, C, C  →  kept = A, B, A, C (the noised A
    and the second C are temporal dups of the previous kept frame)."""
    import numpy as np

    from etl_airbnb_mex_spark.multimodal.ops import (
        MEDIA_SCHEMA,
        pack_video_pngseq,
        video_frame_dedup,
    )

    h, w = 16, 16
    yy, xx = np.mgrid[0:h, 0:w]
    a = ((xx * 16) % 256).astype("uint8")            # vertical ramp
    a_noise = a.copy()
    a_noise[0, 0] ^= 1                                # 1-bit pixel nudge
    b = ((xx % 2) * 255).astype("uint8")  # alternating columns
    c = (255 - a).astype("uint8")  # inverted ramp: gradients reversed
    frames = [a, a_noise, b, a, c, c]
    data = pack_video_pngseq(frames)
    df = spark.createDataFrame(
        [(0, "video", data, (w, h, None, len(frames), "pngseq"))],
        MEDIA_SCHEMA,
    )
    out = (
        video_frame_dedup(df, every_n=1, max_hamming=4)
        .toPandas()
        .sort_values("frame_no")
    )
    assert len(out) == 6
    assert out["kept"].tolist() == [True, False, True, True, True, False]
    # sampling: every_n=2 sees frames 0,2,4 — all distinct scenes
    out2 = (
        video_frame_dedup(df, every_n=2, max_hamming=4)
        .toPandas()
        .sort_values("frame_no")
    )
    assert out2["frame_no"].tolist() == [0, 2, 4]
    assert out2["kept"].all()


def test_video_frame_dedup_driver_query(spark, sf_dir):
    """The rows-only driver registration (queries/advanced.py): per
    planted video, kept == scene count and sampled == scenes*run_len;
    the mixed-kind poison image rows prove the kind gate on the driver
    path (without it _iter_pngseq would raise on the PNG payloads)."""
    from etl_airbnb_mex_spark.queries import all_queries

    out = (
        all_queries()["video_frame_dedup"](spark, sf_dir)
        .toPandas()
        .sort_values("media_id")
    )
    assert len(out) > 0
    for r in out.itertuples():
        scenes = 2 + r.media_id % 3
        run_len = 1 + r.media_id % 3
        assert r.n_kept == scenes
        assert r.n_sampled == scenes * run_len


def test_kept_operators_raise_on_undecodable_payloads(spark):
    """The codec boundary of the two kept operators: a JPEG image and a
    non-PNGSEQ1 video need a native library, so they raise
    NotImplementedError inside the Arrow worker — the documented
    boundary, not silent garbage."""
    jpeg = spark.createDataFrame(
        [(99, "image", b"\xff\xd8\xff\xe0jfif-ish", (1, 1, None, 1, "jpg"))],
        MEDIA_SCHEMA,
    )
    with pytest.raises(PythonException, match="undecodable image format") as e:
        image_dhash(jpeg).collect()
    assert "NotImplementedError" in str(e.value)
    mp4 = spark.createDataFrame(
        [(98, "video", b"\x00\x00\x00\x18ftypmp42", (1, 1, None, 1, "mp4"))],
        MEDIA_SCHEMA,
    )
    with pytest.raises(PythonException, match="PNGSEQ1") as e:
        video_frame_dedup(mp4).collect()
    assert "NotImplementedError" in str(e.value)
