"""Multimodal column plumbing (SURVEY.md §2.11): image/audio/video as
opaque binary columns with typed metadata, processed via Arrow-batched
`mapInPandas`.

The Spark-side shape is real and tested — schema contract, partition
sizing, Pandas-UDF batch signature; only the codec itself is stubbed
(`decode_image_real` raises NotImplementedError: pillow/ffmpeg are not
in this container). `fake_decode_meta` is a deterministic stand-in that
exercises the identical plumbing.

Scale notes: binary payloads dominate row size — keep
`spark.sql.files.maxPartitionBytes` low enough that a partition of
payloads fits executor memory, and select metadata columns only
(column pruning) when the payload isn't needed.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, mime string, payload binary, "
    "meta_json string"
)

DECODED_SCHEMA = (
    "media_id long, kind string, n_bytes long, sha256 string, "
    "width int, height int, n_frames int"
)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a synthetic media table from `documents` (payload = utf-8
    text bytes) — deterministic fixture for the plumbing tests."""
    kind = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    mime = (
        F.when(kind == "image", "image/png")
        .when(kind == "audio", "audio/wav")
        .otherwise("video/mp4")
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        mime.alias("mime"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.to_json(F.struct(F.col("lang"), F.col("source"))).alias("meta_json"),
    )


def decode_image_real(payload: bytes) -> tuple[int, int]:
    """Real image decode — requires an imaging library not present in
    this environment. The plumbing around it is fully wired; swap this
    implementation when PIL/opencv is available."""
    raise NotImplementedError(
        "image codec not available in this container; use fake_decode_meta"
    )


def fake_decode_meta(payload: bytes, kind: str) -> tuple[int, int, int]:
    """Deterministic stand-in decoder: derives (width, height, n_frames)
    from the payload hash — stable across runs/engines, so tests can
    assert exact values."""
    digest = hashlib.sha256(payload).digest()
    width = 64 + digest[0] % 192
    height = 64 + digest[1] % 192
    n_frames = 1 if kind == "image" else 1 + digest[2] % 120
    return width, height, n_frames


def extract_media_meta(media: DataFrame, use_real_codec: bool = False) -> DataFrame:
    """Arrow-batched decode/feature pass over binary payloads.

    `mapInPandas` streams Arrow record batches through Python — payloads
    never materialize row-at-a-time through pickling. Output rows carry
    metadata only (no payload) so downstream plans stay narrow.
    """

    def decode_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for batch in batches:
            payloads = batch["payload"]
            kinds = batch["kind"]
            widths, heights, frames, shas, sizes = [], [], [], [], []
            for payload, kind in zip(payloads, kinds):
                data = bytes(payload)
                if use_real_codec and kind == "image":
                    width, height = decode_image_real(data)
                    n_frames = 1
                else:
                    width, height, n_frames = fake_decode_meta(data, kind)
                widths.append(width)
                heights.append(height)
                frames.append(n_frames)
                shas.append(hashlib.sha256(data).hexdigest())
                sizes.append(len(data))
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "kind": kinds,
                    "n_bytes": sizes,
                    "sha256": shas,
                    "width": widths,
                    "height": heights,
                    "n_frames": frames,
                }
            )

    return media.mapInPandas(decode_batches, schema=DECODED_SCHEMA)


RESIZED_SCHEMA = (
    "media_id long, width int, height int, target_w int, target_h int, "
    "resized_payload binary"
)


def resize_plan(media: DataFrame, max_side: int = 256) -> DataFrame:
    """Image-resize stage: aspect-preserving fit into max_side×max_side.

    The Spark plumbing is real — decoded dims feed a pure-expression
    target-size computation, and the pixel transform runs as a second
    Arrow-batched mapInPandas over (payload, target dims). There is no
    pixel codec (the engine carries no imaging library): the transform
    emits the sha256 of (payload, target dims) as the "resized" bytes,
    deterministic so tests assert exact values.
    """
    decoded = extract_media_meta(media.filter(F.col("kind") == "image"))
    scale = F.greatest(F.col("width"), F.col("height")) / F.lit(max_side)
    with_targets = (
        decoded.join(media.select("media_id", "payload"), "media_id")
        .withColumn(
            "target_w",
            F.when(scale <= 1, F.col("width"))
            .otherwise(F.floor(F.col("width") / scale))
            .cast("int"),
        )
        .withColumn(
            "target_h",
            F.when(scale <= 1, F.col("height"))
            .otherwise(F.floor(F.col("height") / scale))
            .cast("int"),
        )
    )

    def resize_batches(batches):
        import hashlib as _hashlib

        import pandas as pd

        for batch in batches:
            out_bytes = []
            for payload, tw, th in zip(
                batch["payload"], batch["target_w"], batch["target_h"]
            ):
                digest = _hashlib.sha256(
                    bytes(payload) + f":{tw}x{th}".encode()
                ).digest()
                out_bytes.append(digest)
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "width": batch["width"],
                    "height": batch["height"],
                    "target_w": batch["target_w"],
                    "target_h": batch["target_h"],
                    "resized_payload": out_bytes,
                }
            )

    return with_targets.select(
        "media_id", "width", "height", "target_w", "target_h", "payload"
    ).mapInPandas(resize_batches, schema=RESIZED_SCHEMA)


def sample_frame_offsets(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plan for video rows: explode deterministic frame
    indices (0, n, 2n, ...) from the decoded frame count — pure column
    expressions; the (stubbed) frame extraction would be another
    mapInPandas over (payload, frame_idx)."""
    decoded = extract_media_meta(media.filter(F.col("kind") == "video"))
    return decoded.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )


def audio_window_offsets(media: DataFrame, window_s: int = 5) -> DataFrame:
    """Audio segmentation plan: fixed-duration windows [start_s, end_s)
    over each audio row's decoded duration (the stand-in codec reports
    duration in the n_frames slot for audio). Same shape as video frame
    sampling: metadata decode via Arrow mapInPandas, then a pure-column
    explode — the (stubbed) sample extraction would be one more
    mapInPandas over (payload, start_s, end_s)."""
    decoded = extract_media_meta(media.filter(F.col("kind") == "audio"))
    windows = decoded.select(
        "media_id",
        F.col("n_frames").alias("__dur"),
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(window_s))
        ).alias("start_s"),
    )
    return windows.select(
        "media_id",
        "start_s",
        F.least(F.col("start_s") + window_s, F.col("__dur")).alias("end_s"),
    )


# ---------------------------------------------------------------------------
# perceptual-hash image dedup (aHash)
# ---------------------------------------------------------------------------

AHASH_SCHEMA = "media_id long, ahash long"


_AHASH_CELLS = 64  # one bit per cell, packed into a signed int64


def ahash_images(media: DataFrame) -> DataFrame:
    """Average-hash perceptual fingerprints over image payloads: the
    LAION-style image-dedup front end. Each payload's bytes are
    resampled into 64 buckets; each bucket's mean vs the global
    mean yields one bit — near-identical payloads differ in few bits.

    With a real codec the bytes would be the decoded 8x8 luma plane
    (swap the byte resample for PIL decode+resize inside the SAME
    batch loop); the deterministic byte-bucket stand-in preserves the
    contract the downstream pairing needs: hamming distance grows with
    payload difference. Arrow-batched numpy; the hash is packed into a
    signed int64 (two's complement) so banding/XOR stay JVM-side.
    """
    def hash_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for batch in batches:
            hashes: list[int | None] = []
            for payload in batch["payload"]:
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                if arr.size == 0:
                    hashes.append(None)
                    continue
                means = np.array(
                    [c.mean() for c in np.array_split(
                        arr.astype(np.float64), _AHASH_CELLS) if c.size]
                )
                if means.size < _AHASH_CELLS:  # fewer bytes than cells: pad
                    means = np.pad(means, (0, _AHASH_CELLS - means.size))
                bits = means > means.mean()
                h = 0
                for bit in bits:
                    h = (h << 1) | int(bit)
                if h >= 1 << 63:  # two's complement into signed int64
                    h -= 1 << 64
                hashes.append(h)
            yield pd.DataFrame(
                {"media_id": batch["media_id"], "ahash": pd.array(hashes, dtype="Int64")}
            )

    return (
        media.filter(F.col("kind") == "image")
        .select("media_id", "payload")
        .mapInPandas(hash_batches, schema=AHASH_SCHEMA)
    )


def ahash_pairs(
    hashes: DataFrame,
    max_hamming: int = 8,
    bands: int = 8,
) -> DataFrame:
    """Near-duplicate image pairs: band the 64-bit hash into `bands`
    equal-width keys, bucket-join candidates, verify with an exact
    JVM-side popcount at `max_hamming`. Same banded shape (and the
    same recall trade) as SimHash text pairs: a shared band is
    GUARANTEED only when hamming < bands (pigeonhole); above that,
    recall is probabilistic and rises with `bands` — size bands to the
    hamming radius you need, candidates per bucket shrink 2^width-fold
    either way.
    """
    from legendary_data_pipeline_spark.operators.dedup import (
        hamming_distance,
    )

    width = 64 // bands
    mask = (1 << width) - 1
    banded = hashes.filter(F.col("ahash").isNotNull()).select(
        F.col("media_id"),
        F.col("ahash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftrightunsigned(
                            F.col("ahash"), b * width
                        ).bitwiseAND(F.lit(mask)).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("media_id", "ahash", "bk.band_idx", "bk.band_key")
    a = banded.select(
        F.col("media_id").alias("id_a"),
        F.col("ahash").alias("h_a"),
        "band_idx",
        "band_key",
    )
    b = banded.select(
        F.col("media_id").alias("id_b"),
        F.col("ahash").alias("h_b"),
        "band_idx",
        "band_key",
    )
    cands = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
    )
    ham = hamming_distance(F.col("h_a"), F.col("h_b"))
    return cands.select(
        "id_a", "id_b", ham.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)
