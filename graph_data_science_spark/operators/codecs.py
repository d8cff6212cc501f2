"""Pure-NumPy codecs for the container-free media formats.

PPM (P6), uncompressed 24-bit BMP and PCM WAV are headers over raw samples,
so they encode and decode with NumPy and ``struct`` alone; ``resize_nearest``
is the matching nearest-neighbour resampler.  Every function is a pure
per-payload kernel with no Spark dependency.
"""

from __future__ import annotations

import struct

import numpy as np


# -- PPM (P6) ----------------------------------------------------------------

def encode_ppm(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> binary PPM."""
    h, w, c = arr.shape
    if c != 3:
        raise ValueError("encode_ppm expects (h, w, 3)")
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    if not payload.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6) payload")
    # header = magic, width, height, maxval as whitespace/comment-separated
    # tokens, then ONE whitespace byte, then raw samples
    tokens, i, n = [], 2, len(payload)
    while len(tokens) < 3 and i < n:
        while i < n and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while i < n and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < n and not payload[j : j + 1].isspace():
            j += 1
        tokens.append(payload[i:j])
        i = j
    w, h, maxval = (int(t) for t in tokens)
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    i += 1  # the single whitespace after maxval
    data = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=i)
    return data.reshape(h, w, 3).copy()


# -- BMP (uncompressed 24-bit BI_RGB) ---------------------------------------

def decode_bmp(payload: bytes) -> np.ndarray:
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    header_size = struct.unpack_from("<I", payload, 14)[0]
    if header_size < 40:
        raise ValueError("BITMAPCOREHEADER not supported")
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP decodable without codec libs "
            f"(got bpp={bpp}, compression={compression})"
        )
    flipped = h > 0  # positive height = bottom-up row order
    h = abs(h)
    stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=data_offset
    ).reshape(h, stride)
    img = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    if flipped:
        img = img[::-1]
    return img.copy()


def encode_bmp(arr: np.ndarray) -> bytes:
    h, w, c = arr.shape
    if c != 3:
        raise ValueError("encode_bmp expects (h, w, 3)")
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    data = rows.tobytes()
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(data), 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return header + data


# -- WAV (PCM) ---------------------------------------------------------------

def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """-> (float64 samples in [-1, 1] shaped (n, channels), sample_rate)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i, n = 12, len(payload)
    fmt = None
    data = None
    while i + 8 <= n:
        cid = payload[i : i + 4]
        size = struct.unpack_from("<I", payload, i + 4)[0]
        body = payload[i + 8 : i + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        i += 8 + size + (size & 1)
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, rate, _, _, bits = fmt
    if audio_format != 1:
        raise NotImplementedError("only PCM WAV decodable without codec libs")
    if bits == 16:
        x = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    elif bits == 8:
        x = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif bits == 32:
        x = np.frombuffer(data, dtype="<i4").astype(np.float64) / 2147483648.0
    else:
        raise NotImplementedError(f"PCM bit depth {bits} not supported")
    if channels > 1:
        x = x[: (len(x) // channels) * channels].reshape(-1, channels)
    else:
        x = x.reshape(-1, 1)
    return x, rate


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    if samples.ndim == 1:
        samples = samples[:, None]
    channels = samples.shape[1]
    pcm = np.clip(samples * 32768.0, -32768, 32767).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


# -- Resampling ---------------------------------------------------------------

def resize_nearest(img: np.ndarray, width: int, height: int) -> np.ndarray:
    h, w = img.shape[:2]
    yi = (np.arange(height) * (h / height)).astype(np.int64).clip(0, h - 1)
    xi = (np.arange(width) * (w / width)).astype(np.int64).clip(0, w - 1)
    return img[yi][:, xi]
