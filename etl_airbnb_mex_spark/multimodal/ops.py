"""Multimodal operators (north star §2.11 'multimodal columns').

Model: media rows are ``(media_id, kind, data binary, meta struct)`` —
the payload is opaque to Spark SQL; the image perceptual hash and the
video frame dedup run as Arrow-batched pandas transforms via
``mapInPandas`` so the binary never round-trips through Python row by
row and the operator parallelizes per input partition. Near-duplicate
pairing then rides plain DataFrame ops on the 64-bit hashes.

CODECS: PNG / BMP / PGM / PPM decode (and PNG encode + nearest-neighbor
resize) are REAL, implemented from the wire formats with stdlib
zlib/struct + numpy (:mod:`.codecs`) — no PIL/libav needed for these
formats. Formats that genuinely require a native library (JPEG, H.264,
...) raise NotImplementedError from the one dispatch point in
``_dhash_bytes``; video is the length-prefixed PNGSEQ1 container of
PNG frames. Adding a JPEG decoder is one dispatch entry.

Scale notes: batches are bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` (set to a small value
for fat binaries); repartition on media_id upstream if payload sizes are
skewed.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

#: Typed metadata struct accompanying every binary payload.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("data", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_frames", T.IntegerType()),
                    T.StructField("format", T.StringType()),
                ]
            ),
        ),
    ]
)

_DHASH_SCHEMA = "media_id bigint, dhash bigint"


def _dhash_bytes(data) -> int:
    """Perceptual difference-hash of one encoded image (real decode):
    grayscale → nearest-resize 9×8 → 64 horizontal-gradient bits in one
    signed BIGINT. Shared by image_dhash and the video frame path."""
    import numpy as np

    from . import codecs

    raw = bytes(data)
    fmt = codecs.sniff_format(raw)
    if fmt == "png":
        img = codecs.png_decode(raw)
    elif fmt == "bmp":
        img = codecs.bmp_decode(raw)
    elif fmt == "pnm":
        img = codecs.pnm_decode(raw)
    else:
        raise NotImplementedError(
            f"dhash: undecodable image format {fmt!r}"
        )
    g = np.asarray(img, dtype="float64")
    if g.ndim == 3:
        g = g.mean(axis=2)
    small = codecs.resize_nearest(g[:, :, None], 9, 8)[:, :, 0]
    bits = (small[:, 1:] > small[:, :-1]).ravel()  # 8x8 gradients
    h = 0
    for b in bits:
        h = (h << 1) | int(b)
    # keep it in signed-long range for the BIGINT column
    return h - (1 << 64) if h >= (1 << 63) else h


def image_dhash(df: DataFrame) -> DataFrame:
    """Perceptual difference-hash per image: decode → grayscale →
    nearest-resize to 9×8 → 64 horizontal-gradient bits packed into one
    BIGINT. Near-duplicate images (re-encodes, small edits, minor
    noise) land within a few bits of each other, exact bytes are
    irrelevant — the image-side analogue of MinHash for text.

    mapInPandas (Arrow batches); real decoders for PNG/BMP/PNM,
    undecodable formats raise like every codec op here.
    """

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        dhash = _dhash_bytes

        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "dhash": pdf["data"].map(dhash).astype("int64"),
                }
            )

    return df.filter(df["kind"] == "image").mapInPandas(
        batches, _DHASH_SCHEMA
    )


def image_near_dup_pairs(
    hashes: DataFrame, max_hamming: int = 6, bands: int = 8
) -> DataFrame:
    """Near-duplicate image pairs from dhash values WITHOUT the O(n²)
    all-pairs scan — the same band-bucket equi-join as SimHash text
    dedup: split the 64-bit hash into ``bands`` contiguous chunks. By
    pigeonhole, d differing bits touch at most d bands, so whenever
    ``max_hamming < bands`` every qualifying pair agrees EXACTLY on
    some band — recall is 1.0, not probabilistic (the default 6 < 8
    keeps the guarantee). Candidates = union of per-band bucket joins
    (ids + band values shuffle, never pixels), residual = exact
    popcount of XOR (``bit_count``, codegen'd JVM intrinsic).

    Pure DataFrame ops from here on — the multimodal stage ends at the
    64-bit hash, and dedup rides the relational engine.
    """
    if max_hamming >= bands:
        raise ValueError(
            f"recall guarantee needs max_hamming < bands, got "
            f"{max_hamming} >= {bands}"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    sig = hashes.select(
        F.col("media_id").alias("id"),
        F.col("dhash").alias("h"),
        *[
            F.shiftrightunsigned("dhash", i * width)
            .bitwiseAND(F.lit(mask))
            .alias(f"b{i}")
            for i in range(bands)
        ],
    )
    cand = None
    for i in range(bands):
        a = sig.select(
            F.col("id").alias("id_a"),
            F.col("h").alias("ha"),
            F.col(f"b{i}").alias("band"),
        )
        b = sig.select(
            F.col("id").alias("id_b"),
            F.col("h").alias("hb"),
            F.col(f"b{i}").alias("band"),
        )
        pairs = (
            a.join(b, "band")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "ha", "hb")
        )
        cand = pairs if cand is None else cand.unionByName(pairs)
    return (
        cand.distinct()
        .select(
            "id_a",
            "id_b",
            F.bit_count(
                F.col("ha").bitwiseXOR(F.col("hb"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Real video plumbing: length-prefixed PNG-sequence container.
# ---------------------------------------------------------------------------

#: Container magic for the PNG-sequence "video" format: real PNG frames
#: (decoded by our own codec, no native libs), length-prefixed. H.264 /
#: VP9 would need libav — an environment constraint, not a design one:
#: the Spark-side shape below (binary column → Arrow mapInPandas →
#: per-frame rows) is container-independent.
_PNGSEQ_MAGIC = b"PNGSEQ1\x00"


def pack_video_pngseq(frames) -> bytes:
    """Encode grayscale frame arrays into the PNGSEQ1 container:
    magic + u32 frame count + per-frame (u32 length + PNG bytes)."""
    import struct

    import numpy as np

    from . import codecs

    out = [_PNGSEQ_MAGIC, struct.pack("<I", len(frames))]
    for f in frames:
        png = codecs.png_encode(np.asarray(f, dtype="uint8"))
        out.append(struct.pack("<I", len(png)))
        out.append(png)
    return b"".join(out)


def _iter_pngseq(data: bytes):
    """Yield (frame_no, png_bytes) from a PNGSEQ1 container."""
    import struct

    raw = bytes(data)
    if not raw.startswith(_PNGSEQ_MAGIC):
        raise NotImplementedError(
            "video decode: only the PNGSEQ1 container is decodable "
            "here (H.264/VP9 need a native library)"
        )
    off = len(_PNGSEQ_MAGIC)
    (n,) = struct.unpack_from("<I", raw, off)
    off += 4
    for i in range(n):
        (ln,) = struct.unpack_from("<I", raw, off)
        off += 4
        yield i, raw[off:off + ln]
        off += ln


_VFRAME_SCHEMA = (
    "media_id bigint, frame_no int, dhash bigint, kept boolean"
)


def video_frame_dedup(
    df: DataFrame, every_n: int = 1, max_hamming: int = 4
) -> DataFrame:
    """Video frame sampling + temporal dedup over REAL decoded frames:
    for each PNGSEQ1 video, keep every ``every_n``-th frame, dhash it
    (the shared real-PNG-decode perceptual hash), and mark a sampled
    frame as dropped when it is within ``max_hamming`` bits of the
    PREVIOUS KEPT frame — static scenes collapse to their first frame,
    which is exactly the frame-dedup a video training corpus applies
    before captioning/embedding. Emits one row per SAMPLED frame with
    the keep decision, so downstream can both count dedup wins and
    join kept frames onward.

    Arrow mapInPandas; per-video work is sequential by nature (the
    keep decision depends on the previous kept frame) but bounded by
    frames-per-video; videos parallelize freely across tasks.
    """

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        rows: dict[str, list] = {
            "media_id": [], "frame_no": [], "dhash": [], "kept": [],
        }
        for pdf in it:
            for _, row in pdf.iterrows():
                prev_kept: int | None = None
                for frame_no, png in _iter_pngseq(row["data"]):
                    if frame_no % every_n:
                        continue
                    h = _dhash_bytes(png)
                    if prev_kept is None:
                        kept = True
                    else:
                        kept = bin((h ^ prev_kept) & ((1 << 64) - 1)
                                   ).count("1") > max_hamming
                    if kept:
                        prev_kept = h
                    rows["media_id"].append(row["media_id"])
                    rows["frame_no"].append(frame_no)
                    rows["dhash"].append(h)
                    rows["kept"].append(kept)
        yield pd.DataFrame(rows)

    # Per-kind gate first, like image_dhash: on a mixed media table an
    # image/audio payload would make _iter_pngseq raise before any video
    # row is reached.
    return df.filter(df["kind"] == "video").mapInPandas(
        batches, _VFRAME_SCHEMA
    )
