"""Multimodal column plumbing: opaque binary payloads + typed metadata.

A 100 TB training-data pipeline carries image/audio/video as ``binary``
columns with typed metadata structs. The Spark-side plumbing — schema,
Arrow batch shape, 1->N frame explosion, partition sizing — is real and
tested everywhere; the decode kernels auto-upgrade to real codecs when the
libraries exist and otherwise fall back to deterministic fakes:

- ``media_metadata``: sniff magic bytes + sizes (real, pure Python over
  Arrow batches).
- ``decode_image_features`` / ``resize_images``: backend ladder PIL >
  purepng > fake, resolved at runtime per executor (``decoder='auto'``,
  the default). purepng is the vendored pure-Python PNG codec
  (functions/purepng.py) — a real decode path that exists everywhere, so
  PNG rows decode for real even without PIL; non-PNG rows fall back to
  the deterministic fake kernel per row. Every output row carries a
  ``kernel`` column ('pil' / 'purepng' / 'fake') so downstream consumers
  can tell which path produced it.
- ``sample_video_frames``: tries imageio(+pyav/ffmpeg) the same way; fake
  frames are deterministic equal-stride payload slices.

``decoder`` accepts 'auto' (best available real codec, per-row fake
fallback on undecodable bytes), 'real' (STRICT: NotImplementedError when
no codec exists, and a per-row ValueError when a row fails to decode —
real or error, never a silent fake), 'fake' (always the stub — what the
deterministic tests pin). PIL/imageio are optional, so those branches
are import-gated; the purepng branch needs no library and is
pytest-pinned end-to-end.

Pattern note: keep binary columns OUT of shuffles — derive features early,
write them to their own table, and join by id. ``html`` in the ER pipeline
follows the same rule (never read past preprocessing).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
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

_MAGIC = [
    (b"\x89PNG", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF8", "image/gif"),
    (b"RIFF", "audio/wav"),
    (b"ID3", "audio/mp3"),
    (b"<html", "text/html"),
    (b"<!DOC", "text/html"),
]

META_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
    ]
)


def sniff_mime(data: bytes | None) -> str:
    if not data:
        return "application/octet-stream"
    head = data[:16]
    for magic, mime in _MAGIC:
        if head[: len(magic)].lower() == magic.lower():
            return mime
    return "application/octet-stream"


def media_metadata(df: DataFrame, id_col: str = "id", bin_col: str = "payload") -> DataFrame:
    """(id, mime, n_bytes) — magic-byte sniffing, one Arrow pass."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[bin_col]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "mime": [sniff_mime(b) for b in payloads],
                    "n_bytes": [len(b) if b is not None else 0 for b in payloads],
                }
            )

    return df.select(id_col, bin_col).mapInPandas(run, schema=META_SCHEMA)


# ---------------------------------------------------------------------------
# codec resolution
# ---------------------------------------------------------------------------

def _image_backend() -> str | None:
    try:
        import PIL.Image  # noqa: F401

        return "pil"
    except ImportError:
        # vendored pure-Python PNG codec (functions/purepng.py): a REAL,
        # spec-conformant decode path that exists everywhere — PNG rows
        # decode for real, other formats take the per-row fake fallback
        return "purepng"


def _video_backend() -> str | None:
    try:
        import imageio.v3  # noqa: F401

        return "imageio"
    except ImportError:
        return None


def _resolve(mode: str, backend: str | None, what: str) -> str:
    """-> 'fake' or the backend name. Raises for decoder='real' w/o codec.

    Called TWICE: once on the driver for fast failure ('real' without a
    codec should not wait for task launch), and again INSIDE the Arrow
    kernel on each executor — a heterogeneous cluster (driver has the
    codec, executors don't, or vice versa) must resolve against the
    environment that actually decodes, not the driver's."""
    if mode == "fake":
        return "fake"
    if backend is None:
        if mode == "real":
            raise NotImplementedError(
                f"real {what} requires a codec library not present in this "
                f"environment; use decoder='auto' or 'fake'"
            )
        return "fake"  # auto, no codec
    return backend


IMAGE_FEATURE_DIM = 16

IMG_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("features", ArrayType(FloatType())),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("kernel", StringType()),
    ]
)


def _fake_image_row(b) -> tuple[list[float], int, int]:
    if b is None or len(b) == 0:
        return [0.0] * IMAGE_FEATURE_DIM, 0, 0
    arr = np.frombuffer(b, dtype=np.uint8)
    hist, _ = np.histogram(arr, bins=IMAGE_FEATURE_DIM, range=(0, 256))
    # fake dimensions derived from payload size (deterministic)
    return (
        (hist / max(len(arr), 1)).astype(np.float32).tolist(),
        int(len(arr) % 1024),
        int((len(arr) // 1024) % 1024),
    )


def decode_image_features(
    df: DataFrame,
    id_col: str = "id",
    bin_col: str = "payload",
    decoder: str = "auto",
) -> DataFrame:
    """binary -> fixed-width feature vector + real-or-fake ``kernel`` tag.

    With a real codec (``decoder='auto'``/'real') the features are the
    16-bin grayscale-pixel histogram and width/height are the decoded
    dimensions. Rows whose bytes fail to decode: in 'auto', fall back to
    the fake kernel for that row (tagged ``kernel='fake'``); in 'real',
    fail the task loudly (ValueError naming the row) — silent degradation
    to fakes is exactly what 'real' exists to prevent. The fake kernel is
    a deterministic 16-bin byte histogram.
    """
    strict = decoder == "real"  # real = decode for real or FAIL, never fake
    _resolve(decoder, _image_backend(), "image decoding")  # fast driver-side fail

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # re-resolve on the EXECUTOR: its codec environment governs
        kernel = _resolve(decoder, _image_backend(), "image decoding")
        if kernel == "pil":
            import io

            from PIL import Image
        elif kernel == "purepng":
            from ..functions import purepng
        for pdf in batches:
            feats, ws, hs, ks = [], [], [], []
            for rid, b in zip(pdf[id_col], pdf[bin_col]):
                if kernel == "pil" and b is not None and len(b) > 0:
                    try:
                        img = Image.open(io.BytesIO(bytes(b))).convert("L")
                        px = np.asarray(img, dtype=np.uint8).ravel()
                        hist, _ = np.histogram(px, bins=IMAGE_FEATURE_DIM, range=(0, 256))
                        feats.append((hist / max(px.size, 1)).astype(np.float32).tolist())
                        ws.append(int(img.width))
                        hs.append(int(img.height))
                        ks.append("pil")
                        continue
                    except Exception:
                        pass  # corrupt bytes: per-row fake fallback below
                elif kernel == "purepng" and b is not None and len(b) > 0:
                    try:
                        img = purepng.decode_png(bytes(b))
                        px = purepng.to_grayscale(img).ravel()
                        hist, _ = np.histogram(px, bins=IMAGE_FEATURE_DIM, range=(0, 256))
                        feats.append((hist / max(px.size, 1)).astype(np.float32).tolist())
                        ws.append(int(img.shape[1]))
                        hs.append(int(img.shape[0]))
                        ks.append("purepng")
                        continue
                    except Exception:
                        pass  # non-PNG / unsupported: per-row fake fallback
                if strict:
                    raise ValueError(
                        f"decoder='real': row id={rid!r} did not decode with "
                        f"the '{kernel}' codec (use decoder='auto' for a "
                        f"per-row fake fallback)"
                    )
                f, w, h = _fake_image_row(b)
                feats.append(f)
                ws.append(w)
                hs.append(h)
                ks.append("fake")
            yield pd.DataFrame(
                {"id": pdf[id_col], "features": feats, "width": ws,
                 "height": hs, "kernel": ks}
            )

    return df.select(id_col, bin_col).mapInPandas(run, schema=IMG_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("payload_resized", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("kernel", StringType()),
    ]
)


def resize_images(
    df: DataFrame,
    target_w: int = 64,
    target_h: int = 64,
    id_col: str = "id",
    bin_col: str = "payload",
    decoder: str = "auto",
) -> DataFrame:
    """binary -> fixed-size binary + dims + ``kernel`` tag.

    PIL path: decode, bilinear-resize to (target_w, target_h), emit raw
    grayscale bytes (size-exact: target_w*target_h). Fake path strides/pads
    the byte stream to the same exact size — the property the downstream
    fixed-shape consumers rely on either way. Per-row fallback on corrupt
    bytes, like decode_image_features.
    """
    out_len = target_w * target_h
    strict = decoder == "real"
    _resolve(decoder, _image_backend(), "image resizing")  # fast driver-side fail

    def _fake(b) -> bytes:
        if b is None or len(b) == 0:
            return bytes(out_len)
        arr = np.frombuffer(b, dtype=np.uint8)
        idx = (np.arange(out_len) * len(arr) // out_len) % len(arr)
        return arr[idx].tobytes()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kernel = _resolve(decoder, _image_backend(), "image resizing")
        if kernel == "pil":
            import io

            from PIL import Image
        elif kernel == "purepng":
            from ..functions import purepng
        for pdf in batches:
            payloads, ks = [], []
            for rid, b in zip(pdf[id_col], pdf[bin_col]):
                if kernel == "pil" and b is not None and len(b) > 0:
                    try:
                        img = Image.open(io.BytesIO(bytes(b))).convert("L")
                        img = img.resize((target_w, target_h))
                        payloads.append(img.tobytes())
                        ks.append("pil")
                        continue
                    except Exception:
                        pass
                elif kernel == "purepng" and b is not None and len(b) > 0:
                    try:
                        gray = purepng.to_grayscale(purepng.decode_png(bytes(b)))
                        payloads.append(
                            purepng.resize_nearest(gray, target_w, target_h).tobytes()
                        )
                        ks.append("purepng")
                        continue
                    except Exception:
                        pass
                if strict:
                    raise ValueError(
                        f"decoder='real': row id={rid!r} did not decode with "
                        f"the '{kernel}' codec (use decoder='auto' for a "
                        f"per-row fake fallback)"
                    )
                payloads.append(_fake(b))
                ks.append("fake")
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "payload_resized": payloads,
                    "width": [target_w] * len(pdf),
                    "height": [target_h] * len(pdf),
                    "kernel": ks,
                }
            )

    return df.select(id_col, bin_col).mapInPandas(run, schema=RESIZE_SCHEMA)


FRAMES_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame", BinaryType()),
        StructField("kernel", StringType()),
    ]
)


def sample_video_frames(
    df: DataFrame,
    n_frames: int = 4,
    id_col: str = "id",
    bin_col: str = "payload",
    decoder: str = "auto",
) -> DataFrame:
    """binary video -> one row per sampled frame (1 -> N batch shape).

    The production shape an ffmpeg-backed sampler produces: each input row
    explodes into up to ``n_frames`` output rows inside the Arrow pass (no
    JVM-side explode of big binaries). imageio path (when installed):
    equal-stride frame picks re-encoded as PNG bytes. Fake path: payload cut
    into equal strides (deterministic boundaries). Empty/NULL payloads
    produce zero rows — exactly how a corrupt video behaves; a payload that
    fails real decoding falls back to fake strides for that row.
    """
    strict = decoder == "real"
    _resolve(decoder, _video_backend(), "frame sampling")  # fast driver-side fail

    def _fake_rows(rid, b, ids, idxs, frames, ks):
        arr = np.frombuffer(b, dtype=np.uint8)
        k = min(n_frames, len(arr))
        bounds = [len(arr) * i // k for i in range(k + 1)]
        for i in range(k):
            ids.append(rid)
            idxs.append(i)
            frames.append(arr[bounds[i]:bounds[i + 1]].tobytes())
            ks.append("fake")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kernel = _resolve(decoder, _video_backend(), "frame sampling")
        if kernel == "imageio":
            import imageio.v3 as iio
        for pdf in batches:
            ids, idxs, frames, ks = [], [], [], []
            for rid, b in zip(pdf[id_col], pdf[bin_col]):
                if b is None or len(b) == 0:
                    continue
                if kernel == "imageio":
                    try:
                        all_frames = list(iio.imiter(bytes(b)))
                        k = min(n_frames, len(all_frames))
                        if k > 0:
                            picks = [len(all_frames) * i // k for i in range(k)]
                            for i, p in enumerate(picks):
                                ids.append(rid)
                                idxs.append(i)
                                frames.append(
                                    iio.imwrite("<bytes>", all_frames[p],
                                                extension=".png")
                                )
                                ks.append("imageio")
                            continue
                    except Exception:
                        pass
                _fake_rows(rid, b, ids, idxs, frames, ks)
            yield pd.DataFrame(
                {"id": ids, "frame_idx": idxs, "frame": frames, "kernel": ks}
            )

    return df.select(id_col, bin_col).mapInPandas(run, schema=FRAMES_SCHEMA)
