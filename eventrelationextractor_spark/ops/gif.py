"""Pure-stdlib+numpy GIF codec (GIF87a/89a, LZW).

GIF is the one genuinely multi-frame ("video-shaped") format decodable
without codec libraries: variable-width LZW over palette indices. This
gives the multimodal `sample_frames` operator a REAL decode path - an
animated GIF is a sequence of frames with per-frame disposal, which is
exactly the 1-to-many batch shape the operator models.

Supported: 87a + 89a, global/local color tables, interlacing, restart
(clear) codes, transparency + disposal methods 0-3, multi-frame
animations. Decode is validated in tests against Java ImageIO (via
Spark's `image` data source) on real-world distribution GIFs - an
independent decoder, and GIF is lossless so agreement must be EXACT.

The encoder writes valid single- or multi-frame GIFs using the
fixed-width "clear-often" LZW variant (literal codes + periodic clear,
legal per the spec and readable by every decoder) - used to build
deterministic animated test fixtures.
"""

from __future__ import annotations

import struct

import numpy as np

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _read_blocks(data: bytes, pos: int):
    """Concatenate GIF data sub-blocks starting at pos -> (bytes, end)."""
    out = bytearray()
    while True:
        n = data[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        out += data[pos:pos + n]
        pos += n


def _lzw_decode(min_code_size: int, data: bytes, n_pixels: int):
    """GIF variable-width LZW -> palette-index array."""
    clear = 1 << min_code_size
    eoi = clear + 1
    # dictionary as (prefix_code, last_byte); roots are (-1, i)
    prefix = np.full(4096, -1, dtype=np.int32)
    suffix = np.zeros(4096, dtype=np.uint8)
    for i in range(clear):
        suffix[i] = i
    out = np.zeros(n_pixels, dtype=np.uint8)
    out_n = 0
    code_size = min_code_size + 1
    next_code = eoi + 1
    prev = -1
    acc = 0
    nbits = 0
    pos = 0
    scratch = bytearray(4096)
    while out_n < n_pixels:
        while nbits < code_size:
            if pos >= len(data):
                return out[:out_n]           # truncated stream: best effort
            acc |= data[pos] << nbits        # LSB-first packing
            nbits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            code_size = min_code_size + 1
            next_code = eoi + 1
            prev = -1
            continue
        if code == eoi:
            break
        if prev < 0:                         # first code after clear
            out[out_n] = suffix[code]
            out_n += 1
            prev = code
            continue
        if code < next_code:
            cur = code
        elif code == next_code:              # KwKwK case
            cur = prev
        else:
            raise ValueError("corrupt GIF LZW stream")
        # expand `cur` (appending first-byte of cur to dict entry for prev)
        n = 0
        c = cur
        while c >= 0:
            scratch[n] = suffix[c]
            n += 1
            c = prefix[c]
        first = scratch[n - 1]
        if code == next_code:
            # entry = string(prev) + first(prev); emit that directly
            take = min(n + 1, n_pixels - out_n)
            for i in range(min(n, take)):
                out[out_n + i] = scratch[n - 1 - i]
            if take > n:
                out[out_n + n] = first
            out_n += take
        else:
            take = min(n, n_pixels - out_n)
            for i in range(take):
                out[out_n + i] = scratch[n - 1 - i]
            out_n += take
        if next_code < 4096:
            prefix[next_code] = prev
            suffix[next_code] = first
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = code
    return out[:out_n]


def parse_gif(payload: bytes):
    """GIF bytes -> (width, height, bg_index, gct, frames).

    Each frame is a dict: left, top, w, h, indices ((h, w) uint8 into
    `palette`), palette ((n, 3) uint8), transparent (index or None),
    disposal (0-3), delay_cs."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w, h, flags, bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(payload[pos:pos + 3 * n],
                            dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    frames = []
    transparent = None
    disposal = 0
    delay = 0
    while pos < len(payload):
        b = payload[pos]
        if b == 0x3B:                        # trailer
            break
        if b == 0x21:                        # extension
            label = payload[pos + 1]
            pos += 2
            if label == 0xF9:                # graphic control
                blk, pos = _read_blocks(payload, pos)
                gflags, delay, tidx = struct.unpack("<BHB", blk[:4])
                disposal = (gflags >> 2) & 0x7
                transparent = tidx if gflags & 1 else None
            else:
                _, pos = _read_blocks(payload, pos)
        elif b == 0x2C:                      # image descriptor
            left, top, fw, fh, lflags = struct.unpack(
                "<HHHHB", payload[pos + 1:pos + 10])
            pos += 10
            palette = gct
            if lflags & 0x80:
                n = 2 << (lflags & 0x07)
                palette = np.frombuffer(payload[pos:pos + 3 * n],
                                        dtype=np.uint8).reshape(n, 3)
                pos += 3 * n
            min_code = payload[pos]
            pos += 1
            data, pos = _read_blocks(payload, pos)
            idx = _lzw_decode(min_code, data, fw * fh)
            if len(idx) < fw * fh:           # truncated: pad with bg
                idx = np.concatenate(
                    [idx, np.zeros(fw * fh - len(idx), dtype=np.uint8)])
            idx = idx.reshape(fh, fw)
            if lflags & 0x40:                # interlaced: 4-pass rows
                out = np.zeros_like(idx)
                src = 0
                for start, step in _INTERLACE_PASSES:
                    rows = range(start, fh, step)
                    for r in rows:
                        out[r] = idx[src]
                        src += 1
                idx = out
            frames.append({"left": left, "top": top, "w": fw, "h": fh,
                           "indices": idx, "palette": palette,
                           "transparent": transparent,
                           "disposal": disposal, "delay_cs": delay})
            transparent = None
            disposal = 0
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x} at {pos}")
    return w, h, bg, gct, frames


def decode_gif_frames(payload: bytes, max_frames: int | None = None):
    """GIF bytes -> list of composited (height, width, 3) uint8 frames.

    Applies per-frame placement, transparency, and disposal methods
    (1 = leave, 2 = restore background, 3 = restore previous) over the
    logical screen, which is what a video reader hands you per frame."""
    w, h, bg, gct, frames = parse_gif(payload)
    if not frames:
        raise ValueError("GIF with no image data")
    bg_rgb = (gct[bg] if gct is not None and bg < len(gct)
              else np.zeros(3, dtype=np.uint8))
    canvas = np.broadcast_to(bg_rgb, (h, w, 3)).copy()
    out = []
    for f in frames:
        if f["palette"] is None:
            raise ValueError("GIF frame without a color table")
        before = canvas.copy()
        region = canvas[f["top"]:f["top"] + f["h"],
                        f["left"]:f["left"] + f["w"]]
        rgb = f["palette"][np.minimum(f["indices"],
                                      len(f["palette"]) - 1)]
        if f["transparent"] is not None:
            mask = (f["indices"] != f["transparent"])[:, :, None]
            region[:] = np.where(mask, rgb, region)
        else:
            region[:] = rgb
        out.append(canvas.copy())
        if f["disposal"] == 2:
            canvas[f["top"]:f["top"] + f["h"],
                   f["left"]:f["left"] + f["w"]] = bg_rgb
        elif f["disposal"] == 3:
            canvas = before
        if max_frames is not None and len(out) >= max_frames:
            break
    return out


# ---------------------------------------------------------------- encoder

def _lzw_encode_literal(min_code_size: int, indices: np.ndarray) -> bytes:
    """Fixed-width LZW: every pixel as a literal code, CLEAR emitted
    before the code width would ever grow. Larger output than real LZW
    but spec-legal and decoder-universal."""
    clear = 1 << min_code_size
    eoi = clear + 1
    code_size = min_code_size + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def put(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    put(clear)
    # after CLEAR, next_code = eoi+1; width grows when next_code hits
    # 2^code_size. Each literal adds one dict entry, so re-CLEAR in time.
    budget = (1 << code_size) - eoi - 2
    n = 0
    for v in indices.reshape(-1):
        if n == budget:
            put(clear)
            n = 0
        put(int(v))
        n += 1
    put(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _sub_blocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def encode_gif(frames, palette: np.ndarray, delay_cs: int = 4,
               interlace_first: bool = False) -> bytes:
    """frames: list of (h, w) uint8 palette-index arrays (same shape);
    palette: (n<=256, 3) uint8. Multi-frame input writes an animated
    GIF89a with full-frame replacement (disposal 1)."""
    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    h, w = frames[0].shape
    n = len(palette)
    bits = max(1, (n - 1).bit_length())
    size = 1 << bits
    pal = np.zeros((size, 3), dtype=np.uint8)
    pal[:n] = palette
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += pal.tobytes()
    min_code = max(2, bits)
    for i, f in enumerate(frames):
        if len(frames) > 1:
            out += b"\x21\xf9" + bytes([4]) \
                + struct.pack("<BHB", 0x04, delay_cs, 0) + b"\x00"
        ilace = 0x40 if (interlace_first and i == 0) else 0
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, ilace)
        data = f
        if ilace:
            rows = [r for start, step in _INTERLACE_PASSES
                    for r in range(start, h, step)]
            data = f[rows]
        out += bytes([min_code])
        out += _sub_blocks(_lzw_encode_literal(min_code, data))
    out += b"\x3b"
    return bytes(out)
