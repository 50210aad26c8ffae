"""Multimodal column plumbing (build brief: image/audio/video as
opaque binary columns with typed metadata).

The Spark-side architecture is fully real — schemas, partitioning,
Arrow batch shapes, mapInPandas UDF signatures — while the actual
media decode is a deterministic fake, because no image/audio
libraries exist in this container.  Swapping ``_decode_image_stub``
for PIL/libvips keeps every plan unchanged.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..worker import settle_worker

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("mime", StringType()),
        StructField("payload", BinaryType()),  # opaque bytes
        StructField("width", IntegerType()),  # typed metadata
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)


try:  # optional dependency: real image decode when PIL is installed
    from PIL import Image as _PILImage

    HAVE_PIL = True
except ImportError:  # pragma: no cover - container has no PIL
    _PILImage = None
    HAVE_PIL = False


def _decode_image_stub(payload: bytes) -> np.ndarray:
    """STUB: a real implementation decodes with PIL/turbojpeg.  The
    deterministic fake derives a pseudo-pixel array from the bytes so
    the downstream feature plumbing is testable end-to-end."""
    arr = np.frombuffer(payload[:1024], dtype=np.uint8).astype(np.float32)
    if arr.size == 0:
        arr = np.zeros(16, dtype=np.float32)
    return arr


def _pool(raw: np.ndarray, feat_dim: int) -> np.ndarray:
    """Deterministic fixed-dim pooling (mean over strides) — THE
    pooling idiom all three feature paths share, kept in one place so
    the empty-input contract cannot drift: an empty decode (0x0 image
    through PIL, NULL payload) pools to the all-zero signature, since
    a zero-width mean would be NaN plus a RuntimeWarning."""
    if raw.size == 0:
        return np.zeros(feat_dim)
    pad = (-raw.size) % feat_dim
    return np.pad(raw, (0, pad)).reshape(feat_dim, -1).mean(axis=1)


def decode_image(payload: bytes, use_stub: bool = True) -> np.ndarray:
    """Image bytes -> flat float32 pixel array.

    ``use_stub=True`` (default) is the deterministic fake — the path
    every oracle-checked query pins, so results stay reproducible in
    environments without codecs.  ``use_stub=False`` decodes with PIL
    (grayscale-converted pixels) when installed, raising a clear error
    otherwise — the production path for real images."""
    if use_stub:
        return _decode_image_stub(payload)
    if _PILImage is None:
        raise RuntimeError(
            "decode_image(use_stub=False) requires Pillow; install it or "
            "use the deterministic stub path"
        )
    import io

    with _PILImage.open(io.BytesIO(payload)) as img:
        return np.asarray(img.convert("L"), dtype=np.float32).ravel()


def media_features(
    df: DataFrame,
    feat_dim: int = 16,
    use_stub: bool = True,
    on_error: str = "zero",
) -> DataFrame:
    """Arrow-batched feature extraction over opaque media payloads.

    mapInPandas keeps payload bytes off the driver entirely; each batch
    decodes vectorized and emits a fixed-dim float feature.  At 100 TB
    the input is partitioned by media_id hash; nothing here shuffles.
    ``use_stub=False`` runs the real PIL decode (optional dependency,
    see decode_image); the default stub keeps oracles reproducible.

    ``on_error='zero'`` (default) maps rows whose payload fails to
    decode (NULL, empty, corrupt bytes on the PIL path) to an all-zero
    feature so one poison row cannot abort a production job;
    ``'fail'`` re-raises with the offending media_id."""
    if on_error not in ("zero", "fail"):
        raise ValueError(f"on_error must be 'zero' or 'fail', got {on_error!r}")
    if not use_stub and _PILImage is None:
        # misconfiguration (no Pillow) fails loudly at plan time — only
        # per-payload decode errors are governed by on_error
        raise RuntimeError(
            "media_features(use_stub=False) requires Pillow; install it "
            "or use the deterministic stub path"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        settle_worker()
        for pdf in batches:
            feats = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    raw = decode_image(
                        bytes(payload or b""), use_stub=use_stub
                    )
                except Exception as exc:
                    if on_error == "fail":
                        raise RuntimeError(
                            f"media decode failed for media_id={mid}: "
                            f"{type(exc).__name__}: {exc}"
                        ) from exc
                    raw = np.zeros(0, dtype=np.float32)
                feats.append(_pool(raw, feat_dim).astype(np.float32).tolist())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [
                        len(bytes(p or b"")) for p in pdf["payload"]
                    ],
                    "feature": feats,
                }
            )

    src = df.select("media_id", "kind", "payload")
    return src.mapInPandas(run, schema=FEATURE_SCHEMA)


def synth_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests: payload bytes derived
    from media_id (no RNG)."""
    base = spark.range(n).select(F.col("id").alias("media_id"))
    payload = F.sha2(F.col("media_id").cast("string"), 256).cast("binary")
    return base.select(
        "media_id",
        F.when(F.col("media_id") % 3 == 0, "image")
        .when(F.col("media_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        payload.alias("payload"),
        F.lit(64).alias("width"),
        F.lit(64).alias("height"),
        F.lit(1000).alias("duration_ms"),
    )


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("ts_ms", IntegerType()),
        StructField("frame_sig", FloatType()),
    ]
)


def sample_frames(
    df: DataFrame, every_ms: int = 250, feat_dim: int = 16
) -> DataFrame:
    """Frame-sampling plumbing (build brief): UDTF-shaped mapInPandas
    emitting one row per sampled frame — variable fan-out per input
    row, the shape a real ffmpeg-backed sampler would have.  Decode is
    the deterministic stub (pseudo-frames derived from payload bytes);
    the Spark-side semantics (schema, fan-out, batch handling,
    partition independence) are real.  ``n_frames = max(duration_ms //
    every_ms, 1)`` capped at feat_dim pseudo-frames."""
    if every_ms <= 0:
        raise ValueError(f"every_ms must be > 0, got {every_ms}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        settle_worker()
        for pdf in batches:
            mids: list[int] = []
            idxs: list[int] = []
            tss: list[int] = []
            sigs: list[float] = []
            for mid, dur, payload in zip(
                pdf["media_id"], pdf["duration_ms"], pdf["payload"]
            ):
                # a NULL media_id (NaN here) has no identity to emit
                # frame rows under — skip the row rather than letting
                # int(NaN) abort the whole task, consistent with the
                # NULL-duration and NULL-payload tolerance below
                if pd.isna(mid):
                    continue
                raw = _decode_image_stub(bytes(payload or b""))
                pooled = _pool(raw, feat_dim)
                # NULL duration arrives as NaN through pandas: treat as
                # unknown-length -> sample a single frame, don't crash
                d = 0 if pd.isna(dur) else int(dur)
                n = min(max(d // every_ms, 1), feat_dim)
                for i in range(n):
                    mids.append(int(mid))
                    idxs.append(i)
                    tss.append(i * every_ms)
                    sigs.append(float(pooled[i]))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(mids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "ts_ms": pd.Series(tss, dtype="int32"),
                    "frame_sig": pd.Series(sigs, dtype="float32"),
                }
            )

    src = df.select("media_id", "duration_ms", "payload")
    return src.mapInPandas(run, schema=FRAME_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)


def resize_media(
    df: DataFrame, out_w: int = 32, out_h: int = 32, feat_dim: int = 16
) -> DataFrame:
    """Resize plumbing (build brief): decode-stub pseudo-pixels are
    deterministically resampled (np.interp) to out_w*out_h, then
    pooled to a fixed-dim feature.  Swapping the stub for
    PIL.Image.resize keeps schema, batch shape and plan unchanged."""
    if out_w <= 0 or out_h <= 0:
        raise ValueError(f"output dims must be > 0, got {out_w}x{out_h}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        settle_worker()
        n_out = out_w * out_h
        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                raw = _decode_image_stub(bytes(payload or b""))
                xs = np.linspace(0.0, 1.0, num=raw.size, endpoint=False)
                xq = np.linspace(0.0, 1.0, num=n_out, endpoint=False)
                resized = np.interp(xq, xs, raw)
                feats.append(
                    _pool(resized, feat_dim).astype(np.float32).tolist()
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "width": pd.Series([out_w] * len(pdf), dtype="int32"),
                    "height": pd.Series([out_h] * len(pdf), dtype="int32"),
                    "feature": feats,
                }
            )

    src = df.select("media_id", "kind", "payload")
    return src.mapInPandas(run, schema=RESIZED_SCHEMA)
