"""Multimodal-column extension (north star §2.11): image and video
payloads as opaque binary columns with typed metadata, deduplicated by
perceptual hash."""

from .ops import (
    MEDIA_SCHEMA,
    image_dhash,
    image_near_dup_pairs,
    pack_video_pngseq,
    video_frame_dedup,
)

__all__ = [
    "MEDIA_SCHEMA",
    "image_dhash",
    "image_near_dup_pairs",
    "pack_video_pngseq",
    "video_frame_dedup",
]
