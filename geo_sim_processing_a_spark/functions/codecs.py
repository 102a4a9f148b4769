"""Pure-NumPy media codecs — a REAL byte-level decode path for the
multimodal operators, no image/audio libraries required.

Implemented formats (both fully specified, uncompressed, and
deterministic to encode/decode):
 - BMP: 24-bit uncompressed Windows bitmap (BITMAPFILEHEADER +
   BITMAPINFOHEADER, bottom-up rows, 4-byte row padding);
 - WAV: 16-bit PCM RIFF/WAVE (fmt + data chunks).

Used by operators/multimodal.py to decode synthesized media blobs
inside Arrow-batched kernels; round-trip exactness is unit-tested.
"""

from __future__ import annotations

import struct

import numpy as np


# ---------------------------------------------------------------------------
# BMP (24-bit uncompressed)
# ---------------------------------------------------------------------------

def encode_bmp(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> BMP bytes (BI_RGB, 24 bpp, bottom-up)."""
    rgb = np.asarray(rgb, dtype=np.uint8)
    h, w, _ = rgb.shape
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    # BGR order, bottom-up, padded rows
    bgr = rgb[::-1, :, ::-1]
    rows = np.zeros((h, row_bytes + pad), dtype=np.uint8)
    rows[:, :row_bytes] = bgr.reshape(h, row_bytes)
    pixel_data = rows.tobytes()
    data_offset = 14 + 40
    file_size = data_offset + len(pixel_data)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, data_offset)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                       len(pixel_data), 2835, 2835, 0, 0)
    return header + info + pixel_data


def decode_bmp(blob: bytes) -> np.ndarray:
    """BMP bytes -> (h, w, 3) uint8 RGB.  Supports the 24-bit
    uncompressed bottom-up (and top-down, negative height) layouts."""
    if len(blob) < 54 or blob[:2] != b"BM":
        raise ValueError("not a BMP file")
    data_offset = struct.unpack_from("<I", blob, 10)[0]
    hdr_size = struct.unpack_from("<I", blob, 14)[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    w, h_raw = struct.unpack_from("<ii", blob, 18)
    planes, bpp = struct.unpack_from("<HH", blob, 26)
    compression = struct.unpack_from("<I", blob, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: bpp={bpp} compression={compression}")
    top_down = h_raw < 0
    h = -h_raw if top_down else h_raw
    row_bytes = w * 3
    stride = row_bytes + ((-row_bytes) % 4)
    need = data_offset + stride * h
    if len(blob) < need:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(blob, dtype=np.uint8,
                         count=stride * h, offset=data_offset).reshape(h, stride)
    bgr = rows[:, :row_bytes].reshape(h, w, 3)
    if not top_down:
        bgr = bgr[::-1]
    return np.ascontiguousarray(bgr[:, :, ::-1])


def resize_nearest(rgb: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize, vectorized (the feature thumbnail of
    multimodal._image_features)."""
    h, w = rgb.shape[:2]
    yi = (np.arange(out_h) * h) // out_h
    xi = (np.arange(out_w) * w) // out_w
    return rgb[yi][:, xi]


# ---------------------------------------------------------------------------
# WAV (16-bit PCM)
# ---------------------------------------------------------------------------

def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """1-D int16 samples -> mono 16-bit PCM WAV bytes."""
    samples = np.asarray(samples, dtype=np.int16)
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    out = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
           + b"WAVE"
           + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", len(data)) + data)
    return out


def decode_wav(blob: bytes):
    """WAV bytes -> (samples, rate).  16-bit PCM; mono gives a 1-D
    int16 array, multi-channel gives shape (n, channels)."""
    if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a WAV file")
    pos = 12
    rate = None
    channels = 1
    bits = None
    samples = None
    while pos + 8 <= len(blob):
        cid = blob[pos:pos + 4]
        size = struct.unpack_from("<I", blob, pos + 4)[0]
        body = pos + 8
        if cid == b"fmt ":
            audio_fmt, channels, rate = struct.unpack_from("<HHI", blob, body)
            bits = struct.unpack_from("<H", blob, body + 14)[0]
            if audio_fmt != 1 or bits != 16:
                raise ValueError(f"unsupported WAV: fmt={audio_fmt} bits={bits}")
        elif cid == b"data":
            if rate is None:
                raise ValueError("WAV data chunk before fmt chunk")
            n = size // 2
            samples = np.frombuffer(blob, dtype="<i2", count=n, offset=body)
            if channels > 1:
                samples = samples.reshape(-1, channels)
        pos = body + size + (size & 1)  # chunks are word-aligned
    if samples is None:
        raise ValueError("WAV has no data chunk")
    return samples, rate
