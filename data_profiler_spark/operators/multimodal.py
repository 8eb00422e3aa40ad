"""Multimodal (image/video/generic-binary) column operators.

Pattern (same as the audio path, audio/decode.py): the payload is an opaque
``binary`` column + typed metadata columns; all processing is Arrow-batched
``mapInPandas`` with numpy inside, the wide binary column is dropped at the
first opportunity, and partitioning is salted on a deterministic key hash so
payload-size skew never concentrates in one task.

The sandbox has no image/audio/video codec LIBRARIES, but two real image
formats need none: ``bmp`` and ``png`` decode/encode with struct + numpy +
stdlib zlib (operators/imagecodec.py) and are registered below — genuine
pixel bytes run end-to-end through decode → stats / resize → re-encode.
Formats outside that envelope (jpeg, video frames) remain registry slots a
production deployment fills with PIL/ffmpeg-backed callables of the same
signature; an unregistered format raises, which the operators convert to a
per-item violation row. A deterministic fake (``fake_rgb_decoder``) remains
for plumbing tests that want exact controllable pixel stats.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# decoder: payload bytes, fmt string -> (height, width, channels) uint8 array
Decoder = Callable[[bytes, str], np.ndarray]

_DECODERS: dict[str, Decoder] = {}

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)

MEDIA_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("decode_err", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("dec_height", T.IntegerType(), True),
        T.StructField("dec_width", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("mean_intensity", T.DoubleType(), True),
        T.StructField("std_intensity", T.DoubleType(), True),
    ]
)


def register_decoder(fmt: str, decoder: Decoder) -> None:
    _DECODERS[fmt] = decoder


def unregistered_decoder(payload: bytes, fmt: str) -> np.ndarray:
    raise NotImplementedError(
        f"no decoder registered for format {fmt!r}: image/video codec "
        "libraries are not available in this environment; register a real "
        "decoder via multimodal.register_decoder(fmt, fn)"
    )


def fake_rgb_decoder(payload: bytes, fmt: str) -> np.ndarray:
    """Deterministic stand-in decoder: payload bytes → pseudo-RGB pixels.

    Header: 4 bytes height, 4 bytes width (big-endian); body: repeated to
    h×w×3 uint8. Purely so tests can assert exact pixel stats end-to-end
    through the Arrow batch path without a codec library.
    """
    if payload is None or len(payload) < 8:
        raise ValueError("payload too short")
    h = int.from_bytes(payload[0:4], "big")
    w = int.from_bytes(payload[4:8], "big")
    if not (0 < h <= 4096 and 0 < w <= 4096):
        raise ValueError(f"implausible dimensions {h}x{w}")
    body = np.frombuffer(payload[8:], dtype=np.uint8)
    if body.size == 0:
        raise ValueError("empty body")
    need = h * w * 3
    reps = int(np.ceil(need / body.size))
    return np.tile(body, reps)[:need].reshape(h, w, 3)


register_decoder("fake_rgb", fake_rgb_decoder)


def encode_fake_rgb(pixels: np.ndarray) -> bytes:
    h, w = pixels.shape[0], pixels.shape[1]
    return h.to_bytes(4, "big") + w.to_bytes(4, "big") + pixels.tobytes()


def _decode_stats_map(
    media: DataFrame,
    stats_schema: T.StructType,
    compute: "Callable[[bytes | None, str], dict]",
    passthrough: list[str] | None,
) -> DataFrame:
    """Shared mapInPandas harness for per-item decode→stats operators
    (image media_decode_stats / video video_decode_stats): one Arrow batch
    in, fixed-width stats out, payload dropped at the operator boundary so
    the binary column never shuffles. ``compute(payload, fmt)`` returns the
    per-item stat columns for a successful decode; any exception it raises
    becomes a decode_err row (violation-row contract: a production decoder
    can raise OSError/struct.error/IndexError on truncated payloads; none
    of them may fail the job)."""
    passthrough = [
        c
        for c in (passthrough or [])
        if c not in {f.name for f in stats_schema.fields} and c != "payload"
    ]
    in_fields = {f.name: f for f in media.schema.fields}
    out_schema = T.StructType(
        list(stats_schema.fields) + [in_fields[c] for c in passthrough]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out: dict[str, list] = {f.name: [] for f in stats_schema.fields}
            for payload, fmt, mid in zip(pdf["payload"], pdf["fmt"], pdf["media_id"]):
                row: dict = {f.name: None for f in stats_schema.fields}
                row.update(
                    media_id=mid,
                    decode_ok=False,
                    n_bytes=len(payload) if payload is not None else None,
                )
                try:
                    row.update(compute(payload, fmt))
                    row["decode_ok"] = True
                except Exception as e:  # noqa: BLE001 — violation-row contract
                    row["decode_err"] = f"{type(e).__name__}: {e}"
                for k, v in row.items():
                    out[k].append(v)
            res = pd.DataFrame(out, columns=[f.name for f in stats_schema.fields])
            for c in passthrough:
                res[c] = pdf[c].to_numpy()
            yield res

    cols = list(dict.fromkeys(["media_id", "payload", "fmt"] + passthrough))
    return media.select(*cols).mapInPandas(op, schema=out_schema)


def media_decode_stats(media: DataFrame, passthrough: list[str] | None = None) -> DataFrame:
    """Per-item decode + pixel stats via mapInPandas (audio decode_stats
    pattern): one Arrow batch in, fixed-width stats out, payload dropped."""

    def compute(payload, fmt):
        px = _DECODERS.get(fmt, unregistered_decoder)(payload, fmt)
        return {
            "dec_height": int(px.shape[0]),
            "dec_width": int(px.shape[1]),
            "channels": int(px.shape[2]) if px.ndim == 3 else 1,
            "mean_intensity": float(px.mean(dtype=np.float64)),
            "std_intensity": float(px.std(dtype=np.float64)),
        }

    return _decode_stats_map(media, MEDIA_STATS_SCHEMA, compute, passthrough)


# encoder: (h, w, c) uint8 array, fmt -> payload bytes (inverse of Decoder)
Encoder = Callable[[np.ndarray, str], bytes]

_ENCODERS: dict[str, Encoder] = {}


def register_encoder(fmt: str, encoder: Encoder) -> None:
    _ENCODERS[fmt] = encoder


register_encoder("fake_rgb", lambda px, fmt: encode_fake_rgb(px))

# Real zero-dependency codecs (struct/numpy/zlib — operators/imagecodec.py).
# Imported here, registered here: imagecodec stays a pure bytes<->array
# module with no Spark or registry coupling.
from data_profiler_spark.operators import imagecodec as _imagecodec  # noqa: E402

register_decoder("bmp", _imagecodec.decode_bmp)
register_encoder("bmp", _imagecodec.encode_bmp)
register_decoder("png", _imagecodec.decode_png)
register_encoder("png", _imagecodec.encode_png)


def nn_resize(px: np.ndarray, target_h: int, target_w: int) -> np.ndarray:
    """Nearest-neighbor resample, pure numpy (pixel-center sampling — the
    same grid PIL's NEAREST uses). Codec-free: works on whatever array the
    registered decoder produced."""
    h, w = px.shape[0], px.shape[1]
    ys = np.clip((np.arange(target_h) + 0.5) * h / target_h, 0, h - 1).astype(np.int64)
    xs = np.clip((np.arange(target_w) + 0.5) * w / target_w, 0, w - 1).astype(np.int64)
    return px[ys][:, xs]


def resize_media(media: DataFrame, target_h: int, target_w: int) -> DataFrame:
    """Decode → nearest-neighbor resize → re-encode, per Arrow batch.

    The resample itself is real (``nn_resize``); only the pixel CODEC is
    behind the registries — a format with no registered decoder/encoder
    yields a resize_err row (the engine's violation-row contract) instead of
    failing the job, and a production deployment registers PIL/ffmpeg-backed
    functions with the same signatures and nothing else changes."""

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.StringType(), True),
            T.StructField("resized", T.BinaryType(), True),
            T.StructField("out_height", T.IntegerType(), True),
            T.StructField("out_width", T.IntegerType(), True),
            T.StructField("resize_err", T.StringType(), True),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out: dict[str, list] = {f.name: [] for f in out_schema.fields}
            for payload, fmt, mid in zip(pdf["payload"], pdf["fmt"], pdf["media_id"]):
                row: dict = {
                    "media_id": mid,
                    "resized": None,
                    "out_height": None,
                    "out_width": None,
                    "resize_err": None,
                }
                try:
                    dec = _DECODERS.get(fmt, unregistered_decoder)
                    enc = _ENCODERS.get(fmt)
                    if enc is None:
                        raise NotImplementedError(
                            f"no encoder registered for format {fmt!r}; "
                            "register via multimodal.register_encoder(fmt, fn)"
                        )
                    px = nn_resize(dec(payload, fmt), target_h, target_w)
                    row["resized"] = enc(px, fmt)
                    row["out_height"] = int(px.shape[0])
                    row["out_width"] = int(px.shape[1])
                except Exception as e:  # noqa: BLE001 — violation-row contract:
                    # a production decoder/encoder can raise anything
                    # (struct.error, OSError from PIL, IndexError on a
                    # truncated array); any such failure must become a
                    # resize_err row for that media item, not kill the job.
                    row["resize_err"] = f"{type(e).__name__}: {e}"
                for k, v in row.items():
                    out[k].append(v)
            yield pd.DataFrame(out, columns=[f.name for f in out_schema.fields])

    return media.select("media_id", "payload", "fmt").mapInPandas(op, schema=out_schema)


def payload_fingerprint(media: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Exact binary dedup key: sha256 of the payload, computed batch-wise in
    Python (Spark's sha2 works on binary too, but hashing beside the decode
    avoids a second pass over the payload at scale)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "sha256": [
                        hashlib.sha256(p).hexdigest() if p is not None else None
                        for p in pdf["payload"]
                    ],
                }
            )

    return media.select(F.col(id_col).alias(id_col), "payload").mapInPandas(
        op, schema="media_id string, sha256 string"
    )


def check_dims_consistency(stats: DataFrame, tol: int = 0) -> DataFrame:
    """Declared width/height vs decoded dims (requires passthrough of the
    metadata columns through media_decode_stats) → violation rows in the
    engine's VIOLATION_SCHEMA shape."""
    bad = stats.filter(
        F.col("decode_ok")
        & (
            (F.abs(F.col("width") - F.col("dec_width")) > tol)
            | (F.abs(F.col("height") - F.col("dec_height")) > tol)
        )
    )
    detail = F.concat(
        F.lit("declared "),
        F.col("width").cast("string"),
        F.lit("x"),
        F.col("height").cast("string"),
        F.lit(" decoded "),
        F.col("dec_width").cast("string"),
        F.lit("x"),
        F.col("dec_height").cast("string"),
    )
    pid = F.col("partition_id") if "partition_id" in stats.columns else F.lit(None)
    return bad.select(
        F.lit("media_dims_consistent").alias("check_name"),
        F.col("media_id").cast("string").alias("clip_id"),
        pid.cast("int").alias("partition_id"),
        detail.cast("string").alias("detail"),
    )


# ------------------------------------------------------------- video ----
# Video decoders return ((n_frames, h, w, 3) uint8 RGB, fps) — a different
# kind than the image Decoder, so they get their own registry. The real
# zero-dep instance is uncompressed RIFF/AVI (operators/videocodec.py);
# a production deployment registers an ffmpeg-backed function with the
# same signature and nothing else changes.
VideoDecoder = Callable[[bytes, str], "tuple[np.ndarray, float]"]

_VIDEO_DECODERS: dict[str, VideoDecoder] = {}


def register_video_decoder(fmt: str, decoder: VideoDecoder) -> None:
    _VIDEO_DECODERS[fmt] = decoder


def unregistered_video_decoder(payload: bytes, fmt: str):
    raise NotImplementedError(
        f"no video decoder registered for format {fmt!r}: codec libraries "
        "are not available in this environment; register a real decoder via "
        "multimodal.register_video_decoder(fmt, fn)"
    )


from data_profiler_spark.operators import videocodec as _videocodec  # noqa: E402

register_video_decoder("avi", _videocodec.decode_avi)

VIDEO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("decode_err", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("dec_height", T.IntegerType(), True),
        T.StructField("dec_width", T.IntegerType(), True),
        T.StructField("fps", T.DoubleType(), True),
        T.StructField("duration_ms", T.DoubleType(), True),
        T.StructField("mean_intensity", T.DoubleType(), True),
        T.StructField("std_intensity", T.DoubleType(), True),
    ]
)


def video_decode_stats(
    media: DataFrame, passthrough: list[str] | None = None
) -> DataFrame:
    """Per-clip video decode + stats via the shared ``_decode_stats_map``
    harness: one Arrow batch in, fixed-width stats out, payload dropped at
    the operator boundary so the binary column never shuffles. Undecodable
    payloads become decode_err rows (violation-row contract)."""

    def compute(payload, fmt):
        frames, fps = _VIDEO_DECODERS.get(fmt, unregistered_video_decoder)(payload, fmt)
        return {
            "n_frames": int(frames.shape[0]),
            "dec_height": int(frames.shape[1]),
            "dec_width": int(frames.shape[2]),
            "fps": float(fps),
            "duration_ms": float(frames.shape[0] / fps * 1000.0) if fps > 0 else None,
            "mean_intensity": float(frames.mean(dtype=np.float64)),
            "std_intensity": float(frames.std(dtype=np.float64)),
        }

    return _decode_stats_map(media, VIDEO_STATS_SCHEMA, compute, passthrough)


FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), True),
        T.StructField("frame_idx", T.IntegerType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("sample_err", T.StringType(), True),
    ]
)


def frame_sample(
    media: DataFrame, n_samples: int = 4, image_fmt: str = "bmp"
) -> DataFrame:
    """Deterministic frame sampling: decode each clip, take ``n_samples``
    evenly spaced frames (first and last always included when n_samples > 1
    — np.linspace over [0, n_frames-1], deduplicated for short clips), and
    re-encode each as a still image through the IMAGE encoder registry, so
    the output rows are ordinary media rows that feed straight back into
    media_decode_stats / resize_media / payload_fingerprint.

    One mapInPandas pass; a clip that fails to decode (or an unregistered
    image_fmt) yields ONE row with sample_err set and a NULL payload — the
    violation-row contract, and the row count stays an audit trail of which
    clips were skipped."""
    if n_samples < 1:
        raise ValueError(f"frame_sample: n_samples must be >= 1, got {n_samples}")

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            out: dict[str, list] = {f.name: [] for f in FRAME_SAMPLE_SCHEMA.fields}

            def emit(mid, idx, payload, fmt, err):
                out["media_id"].append(mid)
                out["frame_idx"].append(idx)
                out["payload"].append(payload)
                out["fmt"].append(fmt)
                out["sample_err"].append(err)

            for payload, fmt, mid in zip(pdf["payload"], pdf["fmt"], pdf["media_id"]):
                try:
                    dec = _VIDEO_DECODERS.get(fmt, unregistered_video_decoder)
                    enc = _ENCODERS.get(image_fmt)
                    if enc is None:
                        raise NotImplementedError(
                            f"no image encoder registered for {image_fmt!r}"
                        )
                    frames, _ = dec(payload, fmt)
                    n = frames.shape[0]
                    idxs = np.unique(
                        np.linspace(0, n - 1, min(n_samples, n)).round().astype(int)
                    )
                    # buffered: a clip yields its frame rows or its error row,
                    # never both (a later frame's encoder failure drops the
                    # frames already encoded)
                    encoded = [(int(i), enc(frames[i], image_fmt)) for i in idxs]
                except Exception as e:  # noqa: BLE001 — violation-row contract
                    emit(mid, None, None, image_fmt, f"{type(e).__name__}: {e}")
                    continue
                for i, frame in encoded:
                    emit(mid, i, frame, image_fmt, None)
            yield pd.DataFrame(out, columns=[f.name for f in FRAME_SAMPLE_SCHEMA.fields])

    return media.select("media_id", "payload", "fmt").mapInPandas(
        op, schema=FRAME_SAMPLE_SCHEMA
    )
