"""Real media codecs for the multimodal operators (VERDICT r1 item 4).

``multimodal.py``'s ``decoder="real"`` kernels call into here. Strategy:

- **Images**: prefer PIL when importable (any format, SIMD-fast); fall
  back to a minimal pure-stdlib PNG codec (zlib + struct over the public
  PNG spec, RFC 2083) or the pure-stdlib baseline JPEG codec
  (``wopen_spark.jpeg_codec``, ITU-T T.81) so ``decoder="real"`` works
  even in codec-less containers like this one. PNG fallback surface:
  8-bit depth, color types 0/2/4/6, non-interlaced; JPEG fallback:
  baseline sequential, any sampling factors, restart markers.
- **Audio**: prefer soundfile when importable; fall back to stdlib
  ``wave`` for PCM WAV (8/16/32-bit).
- **Video**: MJPEG-in-AVI demuxes via ``wopen_spark.avi_codec``.
- Anything else (WebP/progressive JPEG without PIL, MP3 without
  soundfile, MP4/H.264 without PyAV) raises ``NotImplementedError``
  naming the missing library — those decodes genuinely need a codec.

Everything returns numpy arrays; the callers are Arrow-batched
``mapInPandas`` kernels, so these functions run worker-side on batches
of blobs. numpy is a hard dependency of PySpark itself, so it is always
present on workers.
"""

from __future__ import annotations

import io
import struct
import zlib

import numpy as np

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# channels per PNG color type (8-bit, non-palette)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


# --------------------------------------------------------------------------
# PNG decode (pure stdlib)
# --------------------------------------------------------------------------


def png_decode(data: bytes) -> np.ndarray:
    """Decode a PNG blob to a (height, width, channels) uint8 array.

    Minimal but correct for 8-bit gray/RGB/gray-alpha/RGBA non-interlaced
    PNGs; raises NotImplementedError for palette/16-bit/interlaced (use
    PIL for those)."""
    if data[: len(_PNG_MAGIC)] != _PNG_MAGIC:
        raise ValueError("not a PNG (bad signature)")
    pos = len(_PNG_MAGIC)
    width = height = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + body + crc
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth != 8 or color_type not in _PNG_CHANNELS or interlace != 0:
        raise NotImplementedError(
            f"stdlib PNG fallback handles 8-bit color types {sorted(_PNG_CHANNELS)} "
            f"non-interlaced; got depth={bit_depth} type={color_type} "
            f"interlace={interlace} — install PIL for full coverage"
        )
    ch = _PNG_CHANNELS[color_type]
    raw = zlib.decompress(bytes(idat))
    stride = width * ch
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG scanline data has unexpected length")
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        row_start = y * (stride + 1)
        filt = raw[row_start]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=row_start + 1).copy()
        if filt == 0:  # None
            cur = line
        elif filt == 2:  # Up
            cur = (line.astype(np.uint16) + prev).astype(np.uint8)
        elif filt in (1, 3, 4):  # Sub / Average / Paeth need left-neighbor scan
            cur = line
            for x in range(stride):
                left = int(cur[x - ch]) if x >= ch else 0
                up = int(prev[x])
                if filt == 1:
                    cur[x] = (int(line[x]) + left) & 0xFF
                elif filt == 3:
                    cur[x] = (int(line[x]) + ((left + up) >> 1)) & 0xFF
                else:  # Paeth predictor
                    ul = int(prev[x - ch]) if x >= ch else 0
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
                    cur[x] = (int(line[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter byte {filt}")
        out[y] = cur
        prev = out[y]
    return out.reshape(height, width, ch)


def png_encode(pixels: np.ndarray) -> bytes:
    """Encode a (h, w, channels) uint8 array as a PNG (filter 0 rows)."""
    pixels = np.ascontiguousarray(pixels, dtype=np.uint8)
    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    h, w, ch = pixels.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = b"".join(b"\x00" + pixels[y].tobytes() for y in range(h))
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


# --------------------------------------------------------------------------
# Unified image API (PIL when present, stdlib PNG fallback)
# --------------------------------------------------------------------------


def decode_image(data: bytes) -> np.ndarray:
    """Blob -> (h, w, ch) uint8. PIL if importable, else stdlib PNG or
    stdlib baseline JPEG (wopen_spark.jpeg_codec)."""
    try:
        from PIL import Image  # noqa: PLC0415 — optional, worker-side

        arr = np.asarray(Image.open(io.BytesIO(data)).convert("RGBA"))
        return arr
    except ImportError:
        pass
    if data[: len(_PNG_MAGIC)] == _PNG_MAGIC:
        return png_decode(data)
    if data[:2] == b"\xff\xd8":
        from wopen_spark.jpeg_codec import jpeg_decode  # noqa: PLC0415

        arr = jpeg_decode(data)
        return arr[:, :, None] if arr.ndim == 2 else arr
    raise NotImplementedError(
        "only PNG and baseline JPEG decode without PIL; install Pillow "
        "for WebP/GIF/progressive JPEG/..."
    )


def mean_luma(pixels: np.ndarray) -> float:
    """Rec.601 luma in [0,1]; alpha channels are ignored."""
    px = pixels.astype(np.float64)
    ch = px.shape[2] if px.ndim == 3 else 1
    if ch >= 3:
        y = 0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
    else:
        y = px[..., 0] if px.ndim == 3 else px
    return float(y.mean() / 255.0)


def average_hash(pixels: np.ndarray, hash_size: int = 8) -> str:
    """aHash: nearest-neighbor downsample to hash_size², threshold at the
    mean, emit hex. (Documented choice: aHash, not the ImageHash
    library's DCT pHash — stdlib-only and deterministic.)"""
    px = pixels
    if px.ndim == 3 and px.shape[2] >= 3:
        small_src = (
            0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
        )
    elif px.ndim == 3:
        small_src = px[..., 0].astype(np.float64)
    else:
        small_src = px.astype(np.float64)
    h, w = small_src.shape
    ys = (np.arange(hash_size) * h // hash_size).clip(0, h - 1)
    xs = (np.arange(hash_size) * w // hash_size).clip(0, w - 1)
    small = small_src[np.ix_(ys, xs)]
    bits = (small > small.mean()).flatten()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return f"{val:0{hash_size * hash_size // 4}x}"


def resize_nearest(pixels: np.ndarray, new_w: int, new_h: int) -> np.ndarray:
    """Nearest-neighbor resize (h,w,ch) -> (new_h,new_w,ch). PIL's
    bilinear takes over when installed (see resize_image)."""
    h, w = pixels.shape[:2]
    ys = (np.arange(new_h) * h // new_h).clip(0, h - 1)
    xs = (np.arange(new_w) * w // new_w).clip(0, w - 1)
    return pixels[np.ix_(ys, xs)]


def resize_image(data: bytes, new_w: int, new_h: int) -> bytes:
    """Decode + resize + re-encode. PIL path uses bilinear and keeps the
    source format; stdlib path is nearest-neighbor, re-encoded in the
    source format (PNG stays PNG, JPEG stays JPEG)."""
    try:
        from PIL import Image  # noqa: PLC0415

        img = Image.open(io.BytesIO(data))
        fmt = img.format or "PNG"
        buf = io.BytesIO()
        img.resize((new_w, new_h)).save(buf, format=fmt)
        return buf.getvalue()
    except ImportError:
        if data[:2] == b"\xff\xd8":
            from wopen_spark.jpeg_codec import jpeg_decode, jpeg_encode  # noqa: PLC0415

            return jpeg_encode(resize_nearest(jpeg_decode(data), new_w, new_h))
        return png_encode(resize_nearest(png_decode(data), new_w, new_h))


# --------------------------------------------------------------------------
# Audio (soundfile when present, stdlib wave fallback for PCM WAV)
# --------------------------------------------------------------------------


def decode_audio(data: bytes) -> tuple[int, np.ndarray]:
    """Blob -> (sample_rate, mono float64 samples in [-1, 1])."""
    try:
        import soundfile as sf  # noqa: PLC0415 — optional, worker-side

        samples, rate = sf.read(io.BytesIO(data), dtype="float64")
        if samples.ndim == 2:
            samples = samples.mean(axis=1)
        return int(rate), samples
    except ImportError:
        pass
    if data[:4] != b"RIFF":
        raise NotImplementedError(
            "only PCM WAV decodes without soundfile; install soundfile for "
            "FLAC/OGG/..."
        )
    import wave  # noqa: PLC0415

    with wave.open(io.BytesIO(data), "rb") as wf:
        rate = wf.getframerate()
        n_ch = wf.getnchannels()
        width = wf.getsampwidth()
        frames = wf.readframes(wf.getnframes())
    if width == 1:  # unsigned 8-bit
        arr = (np.frombuffer(frames, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif width == 2:
        arr = np.frombuffer(frames, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 4:
        arr = np.frombuffer(frames, dtype="<i4").astype(np.float64) / 2147483648.0
    else:
        raise NotImplementedError(f"unsupported WAV sample width {width}")
    if n_ch > 1:
        arr = arr.reshape(-1, n_ch).mean(axis=1)
    return rate, arr


def audio_window_stats(
    data: bytes, window_ms: int
) -> tuple[int, int, float, int]:
    """(duration_ms, n_windows, rms, loudest_window_idx) of a clip.

    The real-decoder analogue of multimodal.audio_features' fake kernel:
    full-length RMS plus the argmax of per-window RMS energies."""
    rate, samples = decode_audio(data)
    duration_ms = int(len(samples) * 1000 / rate) if rate else 0
    win = max(int(rate * window_ms / 1000), 1)
    n = len(samples) // win
    if n == 0:
        return duration_ms, 0, 0.0, -1
    trimmed = samples[: n * win].reshape(n, win)
    energies = np.sqrt((trimmed**2).mean(axis=1))
    rms = float(np.sqrt((samples**2).mean()))
    return duration_ms, n, rms, int(energies.argmax())
