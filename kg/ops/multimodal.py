"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata.

Real at this layer: schemas, partitioning, Arrow batch shapes, header
parsing and metadata-driven frame sampling. No codec decode: the
deterministic FAKE container format below keeps the plumbing exercised
everywhere.

FAKE container layout (deterministic, generated by synth_media):
  b"FIMG" | width:uint16 BE | height:uint16 BE | channels:uint8 | payload
  b"FVID" | n_frames:uint16 BE | frame_w:uint16 | frame_h:uint16 | payload
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

IMAGE_META_SCHEMA = (
    "media_id long, kind string, width int, height int, channels int, n_bytes int"
)


def synth_media(n: int, seed: int = 42) -> pd.DataFrame:
    """Deterministic fake media table: (media_id, kind, payload binary)."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        if rng.random() < 0.7:
            w, h, c = rng.randint(2, 16), rng.randint(2, 16), rng.choice([1, 3])
            body = bytes((i * 31 + j * 7) % 256 for j in range(w * h * c))
            payload = b"FIMG" + struct.pack(">HHB", w, h, c) + body
            rows.append((i, "image", payload))
        else:
            nf, w, h = rng.randint(2, 10), rng.randint(2, 8), rng.randint(2, 8)
            body = bytes((i * 17 + j * 3) % 256 for j in range(nf * w * h))
            payload = b"FVID" + struct.pack(">HHH", nf, w, h) + body
            rows.append((i, "video", payload))
    return pd.DataFrame(rows, columns=["media_id", "kind", "payload"])


def _parse_meta(payload: bytes) -> tuple[str, int, int, int]:
    magic = bytes(payload[:4])
    if magic == b"FIMG":
        w, h, c = struct.unpack(">HHB", bytes(payload[4:9]))
        return "image", w, h, c
    if magic == b"FVID":
        nf, w, h = struct.unpack(">HHH", bytes(payload[4:10]))
        return "video", w, h, nf
    return "unknown", 0, 0, 0


def media_metadata(media: DataFrame) -> DataFrame:
    """Parse typed metadata out of the binary payloads (Arrow-batched)."""

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                kind, w, h, c = _parse_meta(payload)
                rows.append((int(mid), kind, w, h, c, len(payload)))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "width", "height", "channels", "n_bytes"],
            )

    return media.select("media_id", "payload").mapInPandas(
        _batches, schema=IMAGE_META_SCHEMA
    )


FRAME_SAMPLE_SCHEMA = "media_id long, frame_idx int, frame binary"


def sample_frames(media: DataFrame, every_k: int = 2) -> DataFrame:
    """Metadata-driven frame sampling over FVID payloads: emits every k-th
    frame as its own binary (the explode shape a video pipeline needs)."""

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                kind, w, h, nf = _parse_meta(payload)
                if kind != "video":
                    continue
                frame_bytes = w * h
                for fi in range(0, nf, every_k):
                    start = 10 + fi * frame_bytes
                    rows.append(
                        (int(mid), fi, bytes(payload[start : start + frame_bytes]))
                    )
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame"])

    return media.select("media_id", "payload").mapInPandas(
        _batches, schema=FRAME_SAMPLE_SCHEMA
    )
