"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Not in the reference (text-only); part of the LLM-pipeline surface
(BASELINE.json north_star). The design for 100 TB: media lives as
``binary`` columns (or object-store URIs) with typed metadata structs;
decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` so each Python worker streams record batches instead of
materializing partitions.

The actual image/audio decoders are NOT available in this environment;
the Spark-side plumbing — schema, batch iteration, binary handling — is
real and tested via ``extract_byte_stats`` (deterministic byte-level
"features" with an arithmetic SQL oracle).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BYTE_STATS_SCHEMA = "doc_id bigint, n_bytes bigint, first_byte bigint, width bigint, height bigint"


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Model any column as an opaque binary payload (here: utf-8 text bytes
    stand in for image/audio blobs the container can't decode)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


def extract_byte_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    width/height are a deterministic fake "decode" (arithmetic on payload
    size) standing in for real image dimensions — the plumbing (Arrow batch
    iteration, binary access, fixed output schema) is exactly what a real
    decoder UDF uses.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            n_bytes = payloads.apply(lambda b: len(b) if b is not None else None)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": n_bytes,
                    "first_byte": payloads.apply(
                        lambda b: int(b[0]) if b else None
                    ),
                    "width": n_bytes % 640,
                    "height": (n_bytes * 7) % 480,
                }
            )

    return df.mapInPandas(gen, schema=BYTE_STATS_SCHEMA)


RESIZE_SCHEMA = "doc_id bigint, width bigint, height bigint, thumb_w bigint, thumb_h bigint"


def resize_thumbnails(
    df: DataFrame, max_side: int = 64, id_col: str = "doc_id"
) -> DataFrame:
    """Thumbnail "resize": aspect-preserving dimension math over the fake
    decoded (width, height) — the real kernel would also rescale pixel
    buffers, but the Spark-side shape (mapInPandas over stats, fixed output
    schema, batch iteration) is identical and is what this verifies."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            w = pdf["width"].clip(lower=1)
            h = pdf["height"].clip(lower=1)
            scale = (max_side / w.combine(h, max)).clip(upper=1.0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "width": w,
                    "height": h,
                    "thumb_w": (w * scale).astype("int64").clip(lower=1),
                    "thumb_h": (h * scale).astype("int64").clip(lower=1),
                }
            )

    return df.mapInPandas(gen, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = "doc_id bigint, frame_idx bigint, frame_offset bigint"


def sample_frames(
    df: DataFrame, every_n_bytes: int = 100, max_frames: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """Frame sampling over a binary "video" payload: emit one row per
    sampled frame offset (1→N fan-out through mapInPandas — the UDTF-shaped
    multimodal op). Deterministic byte-stride stand-in for timestamp-based
    keyframe selection."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs = [], [], []
            for _, row in pdf.iterrows():
                n = len(row["payload"]) if row["payload"] is not None else 0
                for i, off in enumerate(range(0, n, every_n_bytes)):
                    if i >= max_frames:
                        break
                    ids.append(row[id_col])
                    idxs.append(i)
                    offs.append(off)
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame_offset": offs})

    return df.mapInPandas(gen, schema=FRAME_SCHEMA)


AUDIO_WINDOW_SCHEMA = (
    "doc_id bigint, window_idx bigint, n_samples bigint, sum_amp bigint, peak bigint"
)


def audio_window_stats(
    df: DataFrame, id_col: str = "doc_id", window: int = 256
) -> DataFrame:
    """Fixed-size sample-window statistics over binary payloads — the
    audio-feature fan-out shape (per-window RMS/peak for VAD, silence
    trimming, loudness normalization). The payload bytes stand in for
    PCM samples (no audio codec is decoded); the numpy slicing, window
    fan-out (one input row → n_windows output rows), and exact integer
    aggregates are the production plumbing.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, widx, nsamp, sums, peaks = [], [], [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                if payload is None:  # NULL payload = zero windows, like
                    # the siblings' None guards and the oracle's NULL
                    # fan-out (frombuffer(None) would raise TypeError)
                    continue
                samples = np.frombuffer(payload, dtype=np.uint8)
                # An empty payload emits ZERO windows (ceil(0/w) = 0) —
                # matching the oracle's generate_series fan-out; a
                # synthesized zero-sample window would double-count rows
                # if testdata ever ships an empty document.
                for w in range((len(samples) + window - 1) // window):
                    chunk = samples[w * window : (w + 1) * window]
                    ids.append(doc_id)
                    widx.append(w)
                    nsamp.append(len(chunk))
                    sums.append(int(chunk.sum()))
                    peaks.append(int(chunk.max()) if len(chunk) else 0)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "window_idx": widx,
                    "n_samples": nsamp,
                    "sum_amp": sums,
                    "peak": peaks,
                }
            )

    return df.mapInPandas(gen, schema=AUDIO_WINDOW_SCHEMA)
