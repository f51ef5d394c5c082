"""Pure-numpy codecs for uncompressed public media formats.

Covers every media format that needs no external library: WAV/RIFF PCM
audio, netpbm PPM/PGM images, and uncompressed 24-bit BMP — all
fully-documented public byte layouts. Compressed formats (JPEG/PNG/MP4…)
are not decoded: faking entropy decoding would be dishonest.

Everything here is numpy vector math on one payload at a time; the
distributed shape (Arrow batches via ``mapInPandas``, bytes never on the
driver) lives in :mod:`obsplus_spark.operators.multimodal`.
"""

from __future__ import annotations

import struct

import numpy as np

# --------------------------------------------------------------------------
# WAV (RIFF PCM / IEEE float)
# --------------------------------------------------------------------------


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE → (float64 samples shaped (n, channels), sample_rate).

    Supports PCM u8 / i16 / i32 and IEEE float32 — the uncompressed
    format codes (1 and 3). Samples normalize to [-1, 1]."""
    if len(payload) < 12 or payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, n = 12, len(payload)
    fmt = None
    data = None
    while pos + 8 <= n:
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, channels, rate, _byte_rate, _block, bits = fmt
    if audio_fmt == 1:  # integer PCM
        if bits == 8:
            arr = (np.frombuffer(data, np.uint8).astype(np.float64) - 128.0) / 128.0
        elif bits == 16:
            arr = np.frombuffer(data, "<i2").astype(np.float64) / 32768.0
        elif bits == 32:
            arr = np.frombuffer(data, "<i4").astype(np.float64) / 2147483648.0
        else:
            raise ValueError(f"unsupported PCM bit depth {bits}")
    elif audio_fmt == 3 and bits == 32:  # IEEE float
        arr = np.frombuffer(data, "<f4").astype(np.float64)
    else:
        raise ValueError(f"unsupported WAV format code {audio_fmt}/{bits}")
    if channels > 1:
        arr = arr[: (len(arr) // channels) * channels].reshape(-1, channels)
    else:
        arr = arr.reshape(-1, 1)
    return arr, rate


def encode_wav(
    samples: np.ndarray, sample_rate: int, bits: int = 16
) -> bytes:
    """(n, channels) float in [-1,1] → RIFF/WAVE PCM bytes (fixture twin)."""
    samples = np.atleast_2d(np.asarray(samples, dtype=np.float64))
    if samples.shape[0] == 1 and samples.ndim == 2 and samples.shape[1] > samples.shape[0]:
        samples = samples.T
    channels = samples.shape[1]
    if bits == 16:
        raw = (np.clip(samples, -1, 1) * 32767).astype("<i2").tobytes()
    elif bits == 8:
        raw = (np.clip(samples, -1, 1) * 127 + 128).astype(np.uint8).tobytes()
    else:
        raise ValueError("fixture writer supports 8/16-bit PCM")
    block = channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, sample_rate * block, block, bits)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(raw)) + raw
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


# --------------------------------------------------------------------------
# netpbm PPM (P6) / PGM (P5)
# --------------------------------------------------------------------------


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary netpbm → uint8 array (h, w, 3) for P6 or (h, w) for P5."""
    if payload[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary netpbm payload")
    is_color = payload[:2] == b"P6"
    # header tokens: magic, width, height, maxval — whitespace/comment-split
    tokens: list[bytes] = []
    pos = 2
    while len(tokens) < 3 and pos < len(payload):
        c = payload[pos : pos + 1]
        if c == b"#":
            pos = payload.index(b"\n", pos)
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(payload) and not payload[end : end + 1].isspace():
                end += 1
            tokens.append(payload[pos:end])
            pos = end
    pos += 1  # single whitespace after maxval
    w, h, maxval = (int(t) for t in tokens)
    if maxval > 255:
        raise ValueError("16-bit netpbm not supported")
    depth = 3 if is_color else 1
    arr = np.frombuffer(payload, np.uint8, count=w * h * depth, offset=pos)
    return arr.reshape(h, w, 3) if is_color else arr.reshape(h, w)


def encode_ppm(arr: np.ndarray) -> bytes:
    """uint8 (h,w,3) → P6 / (h,w) → P5 bytes."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 3:
        h, w, _ = arr.shape
        return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()
    h, w = arr.shape
    return b"P5\n%d %d\n255\n" % (w, h) + arr.tobytes()


# --------------------------------------------------------------------------
# BMP (24-bit uncompressed BI_RGB)
# --------------------------------------------------------------------------


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP → uint8 (h, w, 3) RGB."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack("<I", payload[10:14])
    hdr_size, w, h, _planes, bpp, compression = struct.unpack(
        "<IiiHHI", payload[14:34]
    )
    if bpp != 24 or compression != 0:
        raise ValueError("only uncompressed 24-bit BMP supported")
    row_len = (w * 3 + 3) & ~3  # rows pad to 4 bytes
    flip = h > 0
    h = abs(h)
    rows = np.frombuffer(payload, np.uint8, count=row_len * h, offset=data_off)
    rows = rows.reshape(h, row_len)[:, : w * 3].reshape(h, w, 3)
    if flip:
        rows = rows[::-1]
    return rows[..., ::-1].copy()  # BGR → RGB


def encode_bmp(arr: np.ndarray) -> bytes:
    """uint8 (h,w,3) RGB → 24-bit bottom-up BMP bytes."""
    arr = np.asarray(arr, dtype=np.uint8)
    h, w, _ = arr.shape
    row_len = (w * 3 + 3) & ~3
    body = np.zeros((h, row_len), np.uint8)
    body[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)
    raw = body.tobytes()
    data_off = 14 + 40
    file_size = data_off + len(raw)
    header = b"BM" + struct.pack("<IHHI", file_size, 0, 0, data_off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raw), 2835, 2835, 0, 0)
    return header + dib + raw


# --------------------------------------------------------------------------
# transforms + feature extraction (numpy, deterministic)
# --------------------------------------------------------------------------


def resize_nearest(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize via integer index maps (no interpolation
    libs; exact and deterministic)."""
    h, w = arr.shape[:2]
    ri = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    ci = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return arr[ri][:, ci]


def image_features(arr: np.ndarray, dim: int = 16) -> list[float]:
    """Fixed-dim deterministic image descriptor: dims, per-channel
    mean/std, and an 8-bin luminance histogram — padded/truncated to
    ``dim``."""
    a = arr.astype(np.float64)
    if a.ndim == 2:
        a = a[:, :, None].repeat(3, axis=2)
    lum = a.mean(axis=2)
    hist, _ = np.histogram(lum, bins=8, range=(0, 256))
    total = max(lum.size, 1)
    feats = [
        float(arr.shape[1]),
        float(arr.shape[0]),
        *(float(a[:, :, c].mean()) / 255.0 for c in range(3)),
        *(float(a[:, :, c].std()) / 255.0 for c in range(3)),
        *(float(x) / total for x in hist),
    ]
    return (feats + [0.0] * dim)[:dim]


# --------------------------------------------------------------------------
# PPMV (toy video container: length-prefixed concatenated netpbm frames)
# --------------------------------------------------------------------------

_PPMV_MAGIC = b"PPMV"


def encode_ppmv(frames: list) -> bytes:
    """Concatenated-netpbm video container, pure stdlib.

    Layout: ``b"PPMV"`` + uint32 frame count + per frame (uint32 length +
    netpbm payload). Deterministic; every frame is independently
    decodable, which is what makes server-side frame *sampling* cheap —
    a sampler seeks by length prefix and decodes only the frames it
    keeps (the real property frame-sampling at 100 TB depends on; the
    entropy-coded containers this stands in for are stubbed because the
    container image has no ffmpeg).
    """
    import struct

    out = [_PPMV_MAGIC, struct.pack("<I", len(frames))]
    for f in frames:
        p = encode_ppm(f)
        out.append(struct.pack("<I", len(p)))
        out.append(p)
    return b"".join(out)


def decode_ppmv(payload: bytes, every_n: int = 1) -> list:
    """Decode every ``every_n``-th frame (0, n, 2n, ...) of a PPMV blob.

    Skipped frames are seeked over by their length prefix, never decoded.
    Returns ``[(frame_index, ndarray), ...]``.
    """
    import struct

    if payload[:4] != _PPMV_MAGIC:
        raise ValueError("not a PPMV payload")
    (n,) = struct.unpack_from("<I", payload, 4)
    pos = 8
    out = []
    for i in range(n):
        (ln,) = struct.unpack_from("<I", payload, pos)
        pos += 4
        if i % every_n == 0:
            out.append((i, decode_ppm(payload[pos : pos + ln])))
        pos += ln
    return out


def patch_grid_sums(img, p: int):
    """ViT-style patch grid over a 2-D grayscale image: crop to whole
    ``p×p`` patches, return ``(rows, cols, sums)`` where ``sums`` is the
    integer pixel sum per patch (row-major) — one vectorized reshape +
    two axis sums, no Python loop. Exact integer math so downstream
    means are single IEEE divisions (oracle-portable).
    """
    import numpy as np

    if p < 1:
        raise ValueError(f"patch size must be >= 1, got {p}")
    a = np.asarray(img)
    if a.ndim != 2:
        raise ValueError(f"expected a 2-D grayscale image, got {a.ndim}-D")
    rows, cols = a.shape[0] // p, a.shape[1] // p
    if rows == 0 or cols == 0:
        return 0, 0, np.zeros((0,), dtype=np.int64)
    a = a[: rows * p, : cols * p].astype(np.int64)
    sums = a.reshape(rows, p, cols, p).sum(axis=(1, 3)).reshape(-1)
    return rows, cols, sums


def average_hash(img, grid_rows: int = 4, grid_cols: int = 16):
    """Perceptual average-hash (aHash) of a 2-D grayscale image: the
    image is cropped to whole grid cells, each cell's bit is 1 iff its
    mean exceeds the cropped image's global mean, and the row-major bit
    string packs into two 32-bit words ``(lo, hi)`` (bit k of the grid
    → word k div 32, bit k mod 32). The classic cheap image
    fingerprint: near-identical images agree on almost every bit, so
    Hamming distance over the packed words ranks visual similarity.

    EXACT integer rule: ``cell_mean > global_mean`` is evaluated as
    ``cell_sum · n_cells > total_sum`` (equal-sized cells cancel the
    denominators) — no float division anywhere, so any engine
    replaying the rule on the same pixels gets the identical hash.

    Returns ``(lo, hi)`` ints, or ``(None, None)`` when the image is
    smaller than one grid cell per axis (no meaningful hash).
    ``grid_rows·grid_cols`` must be ≤ 64 so the hash fits two words.
    """
    import numpy as np

    gr, gc = int(grid_rows), int(grid_cols)
    if gr < 1 or gc < 1 or gr * gc > 64:
        raise ValueError(f"grid must be 1..64 cells, got {gr}x{gc}")
    a = np.asarray(img)
    if a.ndim != 2:
        raise ValueError(f"expected a 2-D grayscale image, got {a.ndim}-D")
    ch, cw = a.shape[0] // gr, a.shape[1] // gc
    if ch == 0 or cw == 0:
        return None, None
    a = a[: ch * gr, : cw * gc].astype(np.int64)
    cells = a.reshape(gr, ch, gc, cw).sum(axis=(1, 3)).reshape(-1)
    total = int(cells.sum())
    n = gr * gc
    lo = hi = 0
    for k, s in enumerate(cells):
        if int(s) * n > total:
            if k < 32:
                lo |= 1 << k
            else:
                hi |= 1 << (k - 32)
    return lo, hi


def average_hash_wide(img, grid_rows: int = 16, grid_cols: int = 16):
    """WIDE perceptual average-hash: same exact integer rule as
    :func:`average_hash` (``cell_sum · n_cells > total_sum``), but the
    grid may exceed 64 cells and the row-major bit string packs into a
    LIST of 32-bit words (bit k → word ``k div 32``, bit ``k mod 32``)
    — the hash format :func:`obsplus_spark.operators.dedup.
    phash_near_dup_wide` bands at 32 bits per band. The default 16×16
    grid yields a 256-bit code in 8 words.

    Why it exists: 64-bit aHash banding (4×16-bit bands) birthday-
    saturates once the corpus grows well past 2¹⁶ images — RANDOM
    hashes collide at ~n²/2¹⁶ candidate pairs regardless of true
    duplicate mass. 32-bit bands push that wall to ~n²/2³², i.e. out
    past billions of images, while the wider code keeps per-band
    pigeonhole recall (any pair within Hamming ``n_words − 1`` shares
    an untouched band).

    Returns a list of ``ceil(cells/32)`` ints in ``[0, 2³²)``, or
    ``None`` when the image is smaller than one grid cell per axis.
    """
    import numpy as np

    gr, gc = int(grid_rows), int(grid_cols)
    if gr < 1 or gc < 1 or gr * gc > 4096:
        raise ValueError(f"grid must be 1..4096 cells, got {gr}x{gc}")
    a = np.asarray(img)
    if a.ndim != 2:
        raise ValueError(f"expected a 2-D grayscale image, got {a.ndim}-D")
    ch, cw = a.shape[0] // gr, a.shape[1] // gc
    if ch == 0 or cw == 0:
        return None
    a = a[: ch * gr, : cw * gc].astype(np.int64)
    cells = a.reshape(gr, ch, gc, cw).sum(axis=(1, 3)).reshape(-1)
    total = int(cells.sum())
    n = gr * gc
    words = [0] * ((n + 31) // 32)
    for k, s in enumerate(cells):
        if int(s) * n > total:
            words[k // 32] |= 1 << (k % 32)
    return words
