"""Multimodal column plumbing (BASELINE-mandated extension; no
reference twin).

Image/audio/video ride as opaque `binary` columns with typed metadata
(schemas.MEDIA_SCHEMA) through mapInPandas. The decoders are pure
Python from the published format specs, no libraries needed:

* Container headers (decode_media): PNG IHDR, GIF logical screen, BMP
  info header, WAV fmt/data, FLAC STREAMINFO, the JPEG marker walk to
  SOF, the TIFF IFD walk, WebP VP8/VP8L/VP8X, the MP4 moov/mvhd/tkhd
  box walk and AVI avih — dimensions and duration only, no entropy
  data touched.
* Pixels: GIF only (decode_gif_pixels for the first frame,
  decode_gif_frames for composed animation frames); encode_png and
  area_resample write the resampled output.
* Samples: WAV PCM, G.711 mu-law/A-law, IMA and MS ADPCM
  (decode_wav_samples) and FLAC (decode_flac_samples).

Every operator tiers its rows: real decode where a decoder above
claims the payload, container metadata where only the header decodes,
a deterministic hash stub (fake_decode, marker payloads) for unknown
magic, and a corrupt status for recognized-but-damaged bytes. Decoders
raise only ValueError (corrupt) or NotImplementedError (no decoder) —
the exceptions the tiering catches.

Scale notes: mapInPandas streams Arrow batches — payload bytes never
materialize as a full-partition list; batch size is bounded by
spark.sql.execution.arrow.maxRecordsPerBatch. Feature extraction adds
columns without shuffling; only a later groupBy/join would.
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("magic", T.StringType()),
    T.StructField("content_sha", T.StringType()),
    T.StructField("decoded_width", T.IntegerType()),
    T.StructField("decoded_height", T.IntegerType()),
    T.StructField("decoded_duration_ms", T.LongType()),
    T.StructField("decode_status", T.StringType()),
])


def decode_media(payload: bytes, kind: str) -> dict:
    """Pure-Python container-header metadata decode, magic-dispatched.

    Returns {"width", "height", "duration_ms"} (absent axes None).
    Formats parsed — all from their published specs' fixed offsets:
      PNG  signature + IHDR chunk: width/height big-endian u32 at
           bytes 16/20 (the IHDR chunk is required to come first).
      GIF  GIF87a/GIF89a: logical-screen width/height little-endian
           u16 at bytes 6/8.
      BMP  'BM' + BITMAPINFOHEADER: width/height little-endian i32 at
           bytes 18/22 (negative height = top-down row order → abs).
      WAV  RIFF/WAVE chunk walk: byte-rate from the fmt chunk,
           duration = data-chunk size / byte-rate.
      JPEG marker-segment walk to the SOF frame header (height/width
           big-endian u16 at fixed offsets inside SOF) — segment
           structure only, no entropy decoding.
      MP4  ISO-BMFF box walk: mvhd timescale/duration,
           tkhd 16.16-fixed presentation width/height.
      WEBP RIFF chunk walk (r12): VP8X canvas / VP8 keyframe /
           VP8L signature dims — all three stored forms.
      TIFF IFD walk (r12): ImageWidth/ImageLength entries, both
           byte orders, SHORT or LONG inline values.
      FLAC STREAMINFO (r12): 20-bit sample rate + 36-bit total
           samples from the mandatory first metadata block.
    Raises ValueError for a recognized magic with a truncated or
    malformed header ("corrupt"), NotImplementedError for anything
    else — callers fall back to the deterministic fake for those."""
    if payload.startswith(b"\x89PNG\r\n\x1a\n"):
        if len(payload) < 24 or payload[12:16] != b"IHDR":
            raise ValueError("truncated or non-IHDR-first PNG")
        return {"width": int.from_bytes(payload[16:20], "big"),
                "height": int.from_bytes(payload[20:24], "big"),
                "duration_ms": None}
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        if len(payload) < 10:
            raise ValueError("truncated GIF header")
        return {"width": int.from_bytes(payload[6:8], "little"),
                "height": int.from_bytes(payload[8:10], "little"),
                "duration_ms": None}
    if payload[:2] == b"BM":
        if len(payload) < 26:
            raise ValueError("truncated BMP header")
        w = int.from_bytes(payload[18:22], "little", signed=True)
        h = int.from_bytes(payload[22:26], "little", signed=True)
        return {"width": abs(w), "height": abs(h), "duration_ms": None}
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        pos, byte_rate, data_size = 12, None, None
        while pos + 8 <= len(payload):
            cid = payload[pos:pos + 4]
            csz = int.from_bytes(payload[pos + 4:pos + 8], "little")
            if cid == b"fmt " and pos + 20 <= len(payload):
                byte_rate = int.from_bytes(
                    payload[pos + 16:pos + 20], "little")
            elif cid == b"data":
                data_size = csz
            pos += 8 + csz + (csz & 1)  # RIFF chunks are word-aligned
        if not byte_rate or data_size is None:
            raise ValueError("WAV missing fmt/data chunk")
        return {"width": None, "height": None,
                "duration_ms": data_size * 1000 // byte_rate}
    if payload[:4] == b"fLaC":
        return _decode_flac(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        return _decode_avi(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        return _decode_webp(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return _decode_tiff(payload)
    if payload[:2] == b"\xff\xd8":
        return _decode_jpeg(payload)
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        return _decode_mp4(payload)
    raise NotImplementedError(
        f"no {kind} codec for magic {payload[:4]!r} in this environment")


def _decode_avi(payload: bytes) -> dict:
    """AVI metadata (r12): the hdrl LIST's avih main header carries
    dwMicroSecPerFrame (offset 0), dwTotalFrames (16) and the frame
    dwWidth/dwHeight (32/36) — duration = frames × interval. RIFF
    structure walk only."""
    pos, n = 12, len(payload)
    stack = [(pos, n)]
    while stack:
        lo, hi = stack.pop()
        pos = lo
        while pos + 8 <= hi:
            cid = payload[pos:pos + 4]
            csz = int.from_bytes(payload[pos + 4:pos + 8], "little")
            body = pos + 8
            if body + csz > hi:
                raise ValueError("truncated AVI chunk")
            if cid == b"LIST" and payload[body:body + 4] == b"hdrl":
                stack.append((body + 4, body + csz))
            elif cid == b"avih":
                if csz < 40:
                    raise ValueError("truncated avih")
                usec = int.from_bytes(payload[body:body + 4], "little")
                frames = int.from_bytes(payload[body + 16:body + 20],
                                        "little")
                w = int.from_bytes(payload[body + 32:body + 36],
                                   "little")
                h = int.from_bytes(payload[body + 36:body + 40],
                                   "little")
                dur = frames * usec // 1000 if usec and frames else None
                return {"width": w or None, "height": h or None,
                        "duration_ms": dur}
            pos = body + csz + (csz & 1)
    raise ValueError("AVI without an avih header")


def _decode_flac(payload: bytes) -> dict:
    """FLAC duration (r12): the spec-mandatory STREAMINFO metadata
    block directly follows the fLaC magic; its last 8 bytes pack
    sample_rate(20) ‖ channels-1(3) ‖ bps-1(5) ‖ total_samples(36),
    big-endian. duration = total_samples / sample_rate. A zero sample
    rate is spec-invalid; total_samples == 0 means 'unknown' and is
    reported as a None duration (the container IS valid)."""
    if len(payload) < 8 + 34:
        raise ValueError("truncated FLAC STREAMINFO")
    if payload[4] & 0x7F != 0:
        raise ValueError("FLAC without leading STREAMINFO block")
    body = payload[8:8 + 34]
    u64 = int.from_bytes(body[10:18], "big")
    sr = u64 >> 44
    total = u64 & ((1 << 36) - 1)
    if sr == 0:
        raise ValueError("FLAC with zero sample rate")
    return {"width": None, "height": None,
            "duration_ms": total * 1000 // sr if total else None}


def _decode_webp(payload: bytes) -> dict:
    """WebP dimensions (r12) by RIFF chunk walk — all three stored
    forms per the published container/bitstream specs:
      VP8X extended header: 24-bit little-endian canvas width-1 /
           height-1 at bytes 4/7 of the chunk;
      VP8  lossy: the keyframe start code 9D 01 2A, then 14-bit
           little-endian width/height;
      VP8L lossless: signature 0x2F, then width-1 in bits 0-13 and
           height-1 in bits 14-27 of the next 32 little-endian bits.
    Structure walk only — no VP8 entropy data is touched."""
    pos, n = 12, len(payload)
    while pos + 8 <= n:
        cid = payload[pos:pos + 4]
        csz = int.from_bytes(payload[pos + 4:pos + 8], "little")
        body = payload[pos + 8:pos + 8 + csz]
        if len(body) != csz:
            raise ValueError("truncated WebP chunk")
        if cid == b"VP8X":
            if csz < 10:
                raise ValueError("truncated VP8X header")
            w = int.from_bytes(body[4:7], "little") + 1
            h = int.from_bytes(body[7:10], "little") + 1
            return {"width": w, "height": h, "duration_ms": None}
        if cid == b"VP8 ":
            if csz < 10 or body[3:6] != b"\x9d\x01\x2a":
                raise ValueError("VP8 keyframe start code missing")
            w = int.from_bytes(body[6:8], "little") & 0x3FFF
            h = int.from_bytes(body[8:10], "little") & 0x3FFF
            return {"width": w, "height": h, "duration_ms": None}
        if cid == b"VP8L":
            if csz < 5 or body[0] != 0x2F:
                raise ValueError("VP8L signature missing")
            b32 = int.from_bytes(body[1:5], "little")
            return {"width": (b32 & 0x3FFF) + 1,
                    "height": ((b32 >> 14) & 0x3FFF) + 1,
                    "duration_ms": None}
        pos += 8 + csz + (csz & 1)             # RIFF word alignment
    raise ValueError("WebP without a VP8/VP8L/VP8X chunk")


def _decode_tiff(payload: bytes) -> dict:
    """TIFF dimensions (r12) by IFD walk: endianness from the byte-
    order mark, first IFD at the offset in the header, ImageWidth
    (tag 256) / ImageLength (257) read as SHORT or LONG from the
    left-justified inline value field. Covers EXIF-style TIFFs too
    (same structure). Strip/tile payloads are never touched."""
    if len(payload) < 8:
        raise ValueError("truncated TIFF header")
    bo = "little" if payload[:2] == b"II" else "big"
    ifd = int.from_bytes(payload[4:8], bo)
    if ifd + 2 > len(payload):
        raise ValueError("TIFF IFD offset out of range")
    nent = int.from_bytes(payload[ifd:ifd + 2], bo)
    if ifd + 2 + 12 * nent > len(payload):
        raise ValueError("truncated TIFF IFD")
    width = height = None
    for i in range(nent):
        e = ifd + 2 + 12 * i
        tag = int.from_bytes(payload[e:e + 2], bo)
        typ = int.from_bytes(payload[e + 2:e + 4], bo)
        if tag in (256, 257):
            if typ == 3:                       # SHORT, left-justified
                val = int.from_bytes(payload[e + 8:e + 10], bo)
            elif typ == 4:                     # LONG
                val = int.from_bytes(payload[e + 8:e + 12], bo)
            else:
                raise ValueError(f"TIFF dim tag with type {typ}")
            if tag == 256:
                width = val
            else:
                height = val
    if width is None or height is None:
        raise ValueError("TIFF without ImageWidth/ImageLength")
    return {"width": width, "height": height, "duration_ms": None}


def _decode_jpeg(payload: bytes) -> dict:
    """JPEG dimensions by SEGMENT-STRUCTURE walk (still no entropy
    decoding): every marker segment after SOI is FF xx LEN(2,BE);
    hop segment to segment until a start-of-frame marker (SOF0-15
    minus DHT/JPG/DAC), whose fixed layout is precision(1),
    height(2,BE), width(2,BE)."""
    pos = 2
    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = payload[pos + 1]
        if marker == 0xFF:          # fill byte
            pos += 1
            continue
        if marker in (0x01,) or 0xD0 <= marker <= 0xD9:
            pos += 2                # standalone markers have no length
            continue
        seg = int.from_bytes(payload[pos + 2:pos + 4], "big")
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if pos + 9 > n:
                raise ValueError("truncated JPEG SOF")
            return {"width": int.from_bytes(payload[pos + 7:pos + 9],
                                            "big"),
                    "height": int.from_bytes(payload[pos + 5:pos + 7],
                                             "big"),
                    "duration_ms": None}
        pos += 2 + seg
    raise ValueError("JPEG without SOF header")


def _decode_mp4(payload: bytes) -> dict:
    """ISO-BMFF (MP4/MOV) metadata by BOX walk: every box is
    SIZE(4,BE) TYPE(4); moov/mvhd carries timescale+duration at
    version-dependent fixed offsets, moov/trak/tkhd carries the
    16.16-fixed-point presentation width/height. Structure walk only —
    no codec payload is touched."""
    dur_ms = width = height = None

    # explicit work stack, not recursion: a crafted payload of deeply
    # nested moov/trak boxes (8 bytes per level) must raise/complete
    # like any other walk, never blow the interpreter stack — a
    # RecursionError would escape the callers' ValueError tiering
    stack = [(0, len(payload))]
    while stack:
        pos, hi = stack.pop()
        while pos + 8 <= hi:
            size = int.from_bytes(payload[pos:pos + 4], "big")
            btype = payload[pos + 4:pos + 8]
            body = pos + 8
            if size == 1:  # 64-bit largesize follows
                size = int.from_bytes(payload[pos + 8:pos + 16], "big")
                body = pos + 16
            if size < 8 or pos + size > hi:
                raise ValueError("malformed MP4 box")
            if btype in (b"moov", b"trak"):
                # descend first, resume this level after — exactly the
                # pre-order document walk the recursion performed
                # ("first track with real dimensions wins" depends on
                # tkhd visit order)
                stack.append((pos + size, hi))
                stack.append((body, pos + size))
                break
            elif btype == b"mvhd" and body + 4 <= hi:
                v = payload[body]
                if v == 1 and body + 32 <= hi:
                    ts = int.from_bytes(payload[body + 20:body + 24],
                                        "big")
                    dur = int.from_bytes(payload[body + 24:body + 32],
                                         "big")
                elif body + 24 <= hi:
                    ts = int.from_bytes(payload[body + 12:body + 16],
                                        "big")
                    dur = int.from_bytes(payload[body + 16:body + 20],
                                         "big")
                else:
                    raise ValueError("truncated mvhd")
                if ts:
                    dur_ms = dur * 1000 // ts
            elif btype == b"tkhd" and body < hi:  # size-8 empty body
                v = payload[body]                 # would IndexError
                end = body + (96 if v == 1 else 84)
                if end <= hi:
                    w = int.from_bytes(payload[end - 8:end - 4],
                                       "big") >> 16
                    h = int.from_bytes(payload[end - 4:end],
                                       "big") >> 16
                    # first track with real dimensions wins: an audio
                    # track's tkhd carries 0x0 and must not clobber
                    # the video track's values
                    if width is None or (not (width and height)
                                         and w and h):
                        width, height = w, h
            pos += size
    if dur_ms is None and width is None:
        raise ValueError("MP4 without moov metadata")
    return {"width": width, "height": height, "duration_ms": dur_ms}


def _gif_lzw_decode(data: bytes, min_code_size: int,
                    n_pixels: int) -> list[int]:
    """GIF-variant LZW (spec appendix F): LSB-first bit packing,
    variable code width from min_code_size+1 up to 12 bits, clear code
    2^mcs resets the table, end-of-information terminates. Returns the
    decoded index stream (exactly n_pixels entries).

    LZW codes cap at 12 bits, so a minimum code size over 11 is
    structurally impossible — and must raise BEFORE `1 << mcs` sizes
    the initial table (a crafted mcs byte of 46 would otherwise hang
    the executor building a 2^46-entry dict: adversarial CPU/memory,
    not just a wrong answer)."""
    if not 1 <= min_code_size <= 11:
        raise ValueError(
            f"GIF LZW minimum code size {min_code_size} out of range")
    clear = 1 << min_code_size
    end = clear + 1
    out: list[int] = []
    bitpos = 0
    nbits = len(data) * 8

    # the literal base table is built ONCE and copied per reset:
    # clear-heavy streams (uncompressed-style encoders emit a clear
    # every few literals) otherwise pay a fresh 2^mcs dict
    # comprehension per clear code — measured 60% of decode wall on
    # such streams
    base = {i: [i] for i in range(clear)}

    def reset():
        return base.copy(), clear + 2, min_code_size + 1

    table, next_code, width = reset()
    prev: list[int] | None = None
    while bitpos + width <= nbits and len(out) < n_pixels:
        byte0 = bitpos >> 3
        chunk = int.from_bytes(data[byte0:byte0 + 3], "little")
        code = (chunk >> (bitpos & 7)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table, next_code, width = reset()
            prev = None
            continue
        if code == end:
            break
        if code in table:
            entry = table[code]
        elif code == next_code and prev is not None:
            entry = prev + [prev[0]]          # the KwKwK case
        else:
            raise ValueError("GIF LZW code out of range")
        out.extend(entry)
        if prev is not None:
            table[next_code] = prev + [entry[0]]
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry
    if len(out) < n_pixels:
        raise ValueError("GIF LZW stream ended early")
    return out[:n_pixels]


_GIF_MAX_FRAMES = 1024   # animation cap: bounds the per-row decode work


def _gif_parse(payload: bytes, max_frames: int | None = None,
               stop_after: int | None = None):
    """Shared GIF block walk (spec 89a §18-§23): logical screen +
    global color table, then a linear scan of extension / image
    blocks. Returns (screen_w, screen_h, bg_index, gct, frames) where
    each frame dict carries its decoded INDEX raster (interlace
    already undone), active color table, placement, and the preceding
    Graphic Control Extension's disposal / transparency / delay.
    `stop_after=k` returns after k frames without touching later
    blocks (the first-frame read must stay O(first frame), exactly
    like the r11 single-frame walk — and must keep tolerating a
    damaged tail after a good first frame). Raises exactly like the
    r11 walk: ValueError for truncated/corrupt structure,
    NotImplementedError for a frame with no color table at all."""
    import numpy as np

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise NotImplementedError("not a GIF")
    if len(payload) < 13:
        raise ValueError("truncated GIF header")
    sw = int.from_bytes(payload[6:8], "little")
    sh = int.from_bytes(payload[8:10], "little")
    packed = payload[10]
    bg_index = payload[11]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(payload, np.uint8, 3 * n, pos) \
            .reshape(n, 3)
        pos += 3 * n
    frames: list[dict] = []
    gce = None                                # applies to next image
    while pos < len(payload):
        b0 = payload[pos]
        if b0 == 0x21:                        # extension
            if pos + 2 > len(payload):
                raise ValueError("truncated GIF extension")
            label = payload[pos + 1]
            pos += 2
            blocks = []
            while pos < len(payload) and payload[pos] != 0:
                ln = payload[pos]
                blocks.append(payload[pos + 1:pos + 1 + ln])
                pos += 1 + ln
            pos += 1
            if label == 0xF9 and blocks and len(blocks[0]) >= 4:
                gp = blocks[0][0]             # GCE packed field
                gce = {
                    "disposal": (gp >> 2) & 0x07,
                    "delay_ms": int.from_bytes(blocks[0][1:3],
                                               "little") * 10,
                    "transparent": (blocks[0][3]
                                    if gp & 0x01 else None),
                }
        elif b0 == 0x2C:                      # image descriptor
            if pos + 10 > len(payload):
                raise ValueError("truncated GIF image descriptor")
            left = int.from_bytes(payload[pos + 1:pos + 3], "little")
            top = int.from_bytes(payload[pos + 3:pos + 5], "little")
            w = int.from_bytes(payload[pos + 5:pos + 7], "little")
            h = int.from_bytes(payload[pos + 7:pos + 9], "little")
            if w * h > _MAX_PIXELS or w == 0 or h == 0:
                raise ValueError(
                    f"GIF dimensions {w}x{h} outside the decode cap")
            ipack = payload[pos + 9]
            pos += 10
            ct = gct
            if ipack & 0x80:                  # local color table
                n = 2 << (ipack & 0x07)
                ct = np.frombuffer(payload, np.uint8, 3 * n, pos) \
                    .reshape(n, 3)
                pos += 3 * n
            if ct is None:
                raise NotImplementedError("GIF without a color table")
            if pos >= len(payload):
                raise ValueError("GIF truncated before LZW code size")
            mcs = payload[pos]
            pos += 1
            parts = []
            while pos < len(payload) and payload[pos] != 0:
                ln = payload[pos]
                parts.append(payload[pos + 1:pos + 1 + ln])
                pos += 1 + ln
            pos += 1                          # block terminator
            idx = np.array(
                _gif_lzw_decode(b"".join(parts), mcs, w * h),
                dtype=np.int64).reshape(h, w)
            if idx.max() >= len(ct):
                raise ValueError("GIF index outside color table")
            if ipack & 0x40:                  # undo 4-pass interlace
                order = ([*range(0, h, 8)] + [*range(4, h, 8)]
                         + [*range(2, h, 4)] + [*range(1, h, 2)])
                out = np.empty_like(idx)
                out[order] = idx
                idx = out
            frames.append({"left": left, "top": top, "w": w, "h": h,
                           "ct": ct, "idx": idx,
                           **(gce or {"disposal": 0, "delay_ms": 0,
                                      "transparent": None})})
            gce = None
            if stop_after is not None and len(frames) >= stop_after:
                return sw, sh, bg_index, gct, frames
            if len(frames) > (max_frames or _GIF_MAX_FRAMES):
                raise ValueError("GIF frame count over the decode cap")
        elif b0 == 0x3B:
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b0:02x}")
    if not frames:
        raise ValueError("GIF without an image block")
    return sw, sh, bg_index, gct, frames


def decode_gif_pixels(payload: bytes):
    """REAL GIF pixel decode (first frame), stdlib-only: logical
    screen + color tables at their spec offsets, the image's LZW-coded
    index stream inflated by _gif_lzw_decode, indices mapped through
    the active (local-over-global) color table, Adam-style 4-pass
    interlace undone. Returns (height, width, 3) uint8 RGB — the first
    image block AS STORED (its own sub-rectangle, uncomposed), the
    r10 contract resize_images pins. Unsupported structure (no color
    table) raises NotImplementedError; truncated/corrupt data raises
    ValueError. Animated GIFs: decode_gif_frames composes the full
    per-frame canvases."""
    import numpy as np

    _, _, _, _, frames = _gif_parse(payload, stop_after=1)
    f = frames[0]
    return np.ascontiguousarray(f["ct"][f["idx"]])


def decode_gif_frames(payload: bytes, max_frames: int | None = None):
    """REAL animated-GIF decode (r11 verdict #2): every frame composed
    onto the logical-screen canvas per the spec's Graphic Control
    Extension semantics —

      * frames paint into their (left, top, w, h) sub-rectangle;
      * a transparent index leaves the underlying canvas showing;
      * disposal 0/1 leave the painted result in place, disposal 2
        restores the frame's rectangle to the background color,
        disposal 3 restores it to the pre-frame canvas.

    The canvas starts as the background color (global-table
    background index; zeros when the GIF has no global table — the
    no-alpha analog of the spec's transparent background). Returns
    (frames, delays_ms): a list of (screen_h, screen_w, 3) uint8 RGB
    canvases (one per stored frame, coalesced) and their GCE delays.
    Structural damage raises ValueError; a frame placed outside the
    logical screen is corrupt per spec and raises too."""
    import numpy as np

    sw, sh, bg_index, gct, frames = _gif_parse(payload, max_frames)
    if sw == 0 or sh == 0 or sw * sh > _MAX_PIXELS:
        raise ValueError(
            f"GIF logical screen {sw}x{sh} outside the decode cap")
    if gct is not None and bg_index < len(gct):
        bg = gct[bg_index]
    else:
        bg = np.zeros(3, dtype=np.uint8)
    canvas = np.broadcast_to(bg, (sh, sw, 3)).astype(np.uint8).copy()
    out: list = []
    delays: list[int] = []
    for f in frames:
        left, top, w, h = f["left"], f["top"], f["w"], f["h"]
        if left + w > sw or top + h > sh:
            raise ValueError("GIF frame exceeds the logical screen")
        region = canvas[top:top + h, left:left + w]
        saved = region.copy() if f["disposal"] == 3 else None
        rgb = f["ct"][f["idx"]]
        if f["transparent"] is not None:
            mask = f["idx"] != f["transparent"]
            region[mask] = rgb[mask]
        else:
            region[:] = rgb
        out.append(canvas.copy())
        delays.append(f["delay_ms"])
        if f["disposal"] == 2:
            region[:] = bg
        elif f["disposal"] == 3:
            region[:] = saved
    return out, delays


# adversarial-bytes ceiling for the pure-Python decoders: a malicious
# header claiming absurd dimensions (GIF) or sample counts (WAV, FLAC)
# must raise (falling to the deterministic fallback tier), never
# allocate executor memory proportional to attacker-chosen numbers
_MAX_PIXELS = 1 << 26


def decode_video_frames(payload: bytes, n_frames: int = 4):
    """Video-frame decode for animated GIF, the one codec-free stream
    form: decode_gif_frames composes every stored frame (disposal +
    transparency against the logical screen), frame timestamps come
    from the cumulative GCE delays.

    Returns (frames, ts_ms): up to n_frames evenly-spaced (h, w, 3)
    uint8 arrays and their per-frame timestamps. Every other payload
    (MP4, AVI, MJPEG...) raises NotImplementedError — the stubbed-codec
    tier, whose timestamps come from decode_media's container
    duration; structural damage raises ValueError."""
    frames, delays = decode_gif_frames(payload)
    ts, t = [], 0
    for d in delays:
        ts.append(t)
        t += d
    pick = _even_indices(len(frames), n_frames)
    return [frames[i] for i in pick], [ts[i] for i in pick]


def _even_indices(total: int, k: int) -> list[int]:
    """Up to k evenly-spaced distinct indices over range(total)."""
    if total <= k:
        return list(range(total))
    return [i * total // k for i in range(k)]


def encode_png(arr) -> bytes:
    """Minimal spec-correct PNG encoder for (h, w, c) uint8 arrays
    (c ∈ 1 grey / 2 grey+alpha / 3 RGB / 4 RGBA): filter-0 scanlines,
    one zlib IDAT, CRC'd chunks."""
    import struct
    import zlib

    h, w, ch = arr.shape
    colour = {1: 0, 2: 4, 3: 2, 4: 6}[ch]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)
                              & 0xFFFFFFFF))

    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, colour,
                                         0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw, 9))
            + chunk(b"IEND", b""))


def _area_reduce(a, t: int, axis: int):
    """Exact 1-D area (box) reduction along `axis` to t cells: target
    cell k averages the source interval [k·s/t, (k+1)·s/t), fractional
    edge pixels weighted by coverage — computed in closed form from a
    cumulative sum, fully vectorized. Float64 in, float64 out."""
    import numpy as np

    s = a.shape[axis]
    a = np.asarray(a, dtype=np.float64)
    if t == s:
        return a
    edges = np.arange(t + 1, dtype=np.float64) * (s / t)
    zshape = list(a.shape)
    zshape[axis] = 1
    c = np.concatenate([np.zeros(zshape),
                        np.cumsum(a, axis=axis)], axis=axis)
    idx = np.minimum(np.floor(edges).astype(np.int64), s)
    frac = edges - np.floor(edges)
    fshape = [1] * a.ndim
    fshape[axis] = t + 1
    # cumulative mass up to each (possibly fractional) edge
    mass = (np.take(c, idx, axis=axis)
            + np.take(a, np.minimum(idx, s - 1), axis=axis)
            * frac.reshape(fshape))
    num = (np.take(mass, np.arange(1, t + 1), axis=axis)
           - np.take(mass, np.arange(t), axis=axis))
    return num * (t / s)                        # cell width is s/t


def area_resample(img, tw: int, th: int):
    """True area-average resample of an (h, w, c) uint8 image to
    (th, tw): separable exact box filter (the correct downscale — every
    source pixel contributes proportionally to its overlap), rounded
    half-up to uint8. Closed-form, no library."""
    import numpy as np

    out = _area_reduce(_area_reduce(img, th, 0), tw, 1)
    return np.floor(out + 0.5).astype(np.uint8)


def _g711_mulaw_table():
    """G.711 mu-law byte -> 16-bit linear (the standard expansion:
    code 0x00 decodes to -32124, 0xFF to 0)."""
    import numpy as np

    out = np.empty(256, dtype=np.int16)
    for code in range(256):
        u = ~code & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
        out[code] = (0x84 - t) if u & 0x80 else (t - 0x84)
    return out


def _g711_alaw_table():
    """G.711 A-law byte -> 16-bit linear (code 0x55 decodes to -8,
    0xD5 to +8)."""
    import numpy as np

    out = np.empty(256, dtype=np.int16)
    for code in range(256):
        a = code ^ 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        out[code] = t if a & 0x80 else -t
    return out


_IMA_INDEX_ADJ = (-1, -1, -1, -1, 2, 4, 6, 8)

# the IMA/DVI ADPCM 89-entry step-size table (spec constant — the
# published values, NOT a clean geometric recurrence)
_IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767)


def _ima_step_table():
    return _IMA_STEP_TABLE


def _ima_adpcm_decode(data: bytes, ch: int, block_align: int):
    """IMA ADPCM (WAV format tag 0x11): per-channel 4-byte block
    headers (predictor int16 + step index + reserved), then nibble
    groups of 4 bytes per channel interleaved. Returns (n, ch) int16
    numpy array. The per-sample predictor update is the spec's
    shift-add expansion (exact integer math, no float)."""
    import numpy as np

    steps = _ima_step_table()
    if block_align < 4 * ch or block_align % 4:
        raise ValueError("IMA ADPCM block align invalid")
    chans: list[list[int]] = [[] for _ in range(ch)]
    for base in range(0, len(data) - block_align + 1, block_align):
        block = data[base:base + block_align]
        preds, idxs = [], []
        for c in range(ch):
            p = int.from_bytes(block[4 * c:4 * c + 2], "little",
                               signed=True)
            ix = block[4 * c + 2]
            if ix > 88:
                raise ValueError("IMA ADPCM step index out of range")
            preds.append(p)
            idxs.append(ix)
            chans[c].append(p)                 # header carries sample 0
        pos = 4 * ch
        while pos + 4 * ch <= block_align:
            for c in range(ch):
                for b in block[pos + 4 * c:pos + 4 * c + 4]:
                    for nib in (b & 0x0F, b >> 4):
                        step = steps[idxs[c]]
                        diff = step >> 3
                        if nib & 1:
                            diff += step >> 2
                        if nib & 2:
                            diff += step >> 1
                        if nib & 4:
                            diff += step
                        if nib & 8:
                            diff = -diff
                        preds[c] = max(-32768,
                                       min(32767, preds[c] + diff))
                        idxs[c] = max(0, min(88, idxs[c]
                                             + _IMA_INDEX_ADJ[nib & 7]))
                        chans[c].append(preds[c])
            pos += 4 * ch
    if not chans[0]:
        raise ValueError("IMA ADPCM data shorter than one block")
    return np.array(chans, dtype=np.int16).T


# MS-ADPCM spec constants: the 7 built-in predictor coefficient
# pairs (Q8) and the adaptation table indexed by the 4-bit code
_MS_COEFS = ((256, 0), (512, -256), (0, 0), (192, 64), (240, 0),
             (460, -208), (392, -232))
_MS_ADAPT = (230, 230, 230, 230, 307, 409, 512, 614,
             768, 614, 512, 409, 307, 230, 230, 230)


def _ms_adpcm_decode(data: bytes, ch: int, block_align: int):
    """MS-ADPCM (WAV format tag 2): per-block header (predictor
    index, initial delta, two warmup samples per channel), then
    4-bit codes — high nibble first, channels interleaved per nibble.
    Exact integer math per the Microsoft spec. Returns (n, ch)
    int16."""
    import numpy as np

    hdr = 7 * ch
    if block_align < hdr:
        raise ValueError("MS-ADPCM block align invalid")
    chans: list[list[int]] = [[] for _ in range(ch)]
    for base in range(0, len(data) - block_align + 1, block_align):
        blk = data[base:base + block_align]
        pred_i, delta, s1, s2 = [], [], [], []
        for c in range(ch):
            p = blk[c]
            if p >= len(_MS_COEFS):
                raise ValueError("MS-ADPCM predictor out of range")
            pred_i.append(p)
        for c in range(ch):
            delta.append(int.from_bytes(
                blk[ch + 2 * c:ch + 2 * c + 2], "little", signed=True))
        for c in range(ch):
            s1.append(int.from_bytes(
                blk[3 * ch + 2 * c:3 * ch + 2 * c + 2], "little",
                signed=True))
        for c in range(ch):
            s2.append(int.from_bytes(
                blk[5 * ch + 2 * c:5 * ch + 2 * c + 2], "little",
                signed=True))
        for c in range(ch):
            chans[c].append(s2[c])             # warmup order: s2, s1
            chans[c].append(s1[c])
        nib_i = 0
        for b in blk[hdr:]:
            for nib in (b >> 4, b & 0x0F):
                c = nib_i % ch
                nib_i += 1
                c1, c2 = _MS_COEFS[pred_i[c]]
                pred = (s1[c] * c1 + s2[c] * c2) >> 8
                signed = nib - 16 if nib >= 8 else nib
                samp = max(-32768, min(32767,
                                       pred + signed * delta[c]))
                s2[c], s1[c] = s1[c], samp
                delta[c] = max(16, (_MS_ADAPT[nib] * delta[c]) >> 8)
                chans[c].append(samp)
    if not chans[0]:
        raise ValueError("MS-ADPCM data shorter than one block")
    return np.array(chans, dtype=np.int16).T


def decode_wav_samples(payload: bytes):
    """REAL WAV decode (r12): RIFF/WAVE chunk walk to the fmt + data
    chunks, then the raw samples as an (n_frames, channels) int16
    numpy array — linear PCM (8-bit unsigned recenters to int16
    range; 16-bit little-endian passes through), the G.711 telephony
    codings (late r12: mu-law tag 7 / A-law tag 6 through their
    standard 256-entry tables), and both common ADPCM forms (late
    r12: IMA/DVI tag 0x11 and MS-ADPCM tag 2 — block headers +
    nibble predictor updates in exact integer math). Returns
    (samples, sample_rate). Other formats (float PCM...) raise
    NotImplementedError — callers fall back to the duration-metadata
    tier; structural damage raises ValueError."""
    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("not a WAV")
    pos, n = 12, len(payload)
    fmt = None
    data = None
    while pos + 8 <= n:
        cid = payload[pos:pos + 4]
        csz = int.from_bytes(payload[pos + 4:pos + 8], "little")
        body = payload[pos + 8:pos + 8 + csz]
        if len(body) != csz:
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            if csz < 16:
                raise ValueError("truncated WAV fmt chunk")
            fmt = {
                "tag": int.from_bytes(body[0:2], "little"),
                "channels": int.from_bytes(body[2:4], "little"),
                "rate": int.from_bytes(body[4:8], "little"),
                "block_align": int.from_bytes(body[12:14], "little"),
                "bits": int.from_bytes(body[14:16], "little"),
            }
        elif cid == b"data":
            data = body
        pos += 8 + csz + (csz & 1)
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    supported = (fmt["tag"] == 1 and fmt["bits"] in (8, 16)) \
        or (fmt["tag"] in (6, 7) and fmt["bits"] == 8) \
        or (fmt["tag"] in (2, 0x11) and fmt["bits"] == 4)
    if not supported:
        raise NotImplementedError(
            f"WAV format tag {fmt['tag']} / {fmt['bits']}-bit outside "
            "the PCM/G.711/ADPCM decode path")
    ch = fmt["channels"]
    if ch == 0 or fmt["rate"] == 0:
        raise ValueError("WAV with zero channels/sample rate")
    if fmt["tag"] == 2:                        # MS-ADPCM
        s = _ms_adpcm_decode(data, ch, fmt["block_align"])
    elif fmt["tag"] == 0x11:                   # IMA/DVI ADPCM
        s = _ima_adpcm_decode(data, ch, fmt["block_align"])
    elif fmt["tag"] in (6, 7):                 # G.711 A-law / mu-law
        table = _g711_alaw_table() if fmt["tag"] == 6 \
            else _g711_mulaw_table()
        usable = len(data) // ch * ch
        codes = np.frombuffer(data, np.uint8, usable).reshape(-1, ch)
        s = table[codes]
    elif fmt["bits"] == 16:
        usable = len(data) // (2 * ch) * (2 * ch)
        s = np.frombuffer(data, "<i2", usable // 2).reshape(-1, ch)
    else:                                      # 8-bit PCM is unsigned
        usable = len(data) // ch * ch
        u = np.frombuffer(data, np.uint8, usable).reshape(-1, ch)
        s = ((u.astype(np.int16) - 128) << 8)
    if len(s) * ch > _MAX_PIXELS:              # same adversarial cap
        raise ValueError("WAV sample count over the decode cap")
    return s, fmt["rate"]


class _FlacBits:
    """MSB-first bit reader over one buffer; exhaustion raises
    ValueError (the loud-corruption contract every decoder here
    follows). Byte-aligned reads fall back to slicing for speed."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos          # byte position
        self.bit = 0            # bit offset within the current byte

    def read_bit(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("FLAC bitstream exhausted")
        b = (self.data[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit, self.pos = 0, self.pos + 1
        return b

    def read_bits(self, n: int) -> int:
        v = 0
        # byte-aligned fast path for whole bytes
        while n >= 8 and self.bit == 0:
            if self.pos >= len(self.data):
                raise ValueError("FLAC bitstream exhausted")
            v = (v << 8) | self.data[self.pos]
            self.pos += 1
            n -= 8
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_signed(self, n: int) -> int:
        v = self.read_bits(n)
        return v - (1 << n) if v >> (n - 1) else v

    def read_unary(self) -> int:
        q = 0
        while self.read_bit() == 0:
            q += 1
            if q > 1 << 20:
                # a crafted all-zero run must not spin unboundedly —
                # no legal rice quotient comes near this
                raise ValueError("FLAC unary run out of range")
        return q

    def align(self) -> None:
        if self.bit:
            self.bit, self.pos = 0, self.pos + 1


def _crc8(data: bytes) -> int:
    """CRC-8 poly 0x07 (the FLAC frame-header CRC)."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 \
                else (crc << 1) & 0xFF
    return crc


# frame-header code tables (FLAC format spec §9.1)
_FLAC_BLOCK_SIZES = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                     8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                     13: 8192, 14: 16384, 15: 32768}
_FLAC_BITS = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}
# fixed-predictor restore coefficients by order (spec §9.2.2)
_FLAC_FIXED = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1],
               4: [4, -6, 4, -1]}


def _flac_utf8_number(bits: _FlacBits) -> int:
    """The frame header's UTF-8-style coded frame/sample number
    (spec §9.1.5): 1-7 bytes, same prefix scheme as UTF-8 but
    extended to 36 bits."""
    b0 = bits.read_bits(8)
    if b0 < 0x80:
        return b0
    n = 0
    while b0 & (0x80 >> n):
        n += 1
    if n < 2 or n > 7:
        raise ValueError("FLAC frame number coding invalid")
    v = b0 & (0x7F >> n)
    for _ in range(n - 1):
        c = bits.read_bits(8)
        if c & 0xC0 != 0x80:
            raise ValueError("FLAC frame number continuation invalid")
        v = (v << 6) | (c & 0x3F)
    return v


def _flac_residuals(bits: _FlacBits, block_size: int,
                    order: int) -> list[int]:
    """Partitioned-Rice residual section (spec §9.2.7): 2-bit coding
    method (4- or 5-bit rice parameters), 4-bit partition order, then
    2^po partitions — rice-coded (unary quotient ‖ k-bit remainder,
    zigzag) or, at the escape parameter, raw two's-complement at an
    explicit bit width."""
    method = bits.read_bits(2)
    if method > 1:
        raise ValueError("FLAC residual coding method reserved")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    po = bits.read_bits(4)
    nparts = 1 << po
    if block_size % nparts:
        # spec: the block size must divide evenly into 2^po partitions
        # (the first partition's warmup shortfall is checked below)
        raise ValueError("FLAC partition order invalid for block size")
    out: list[int] = []
    for p in range(nparts):
        count = (block_size >> po) - (order if p == 0 else 0)
        if count < 0:
            raise ValueError("FLAC partition shorter than warmup")
        param = bits.read_bits(pbits)
        if param == escape:
            raw = bits.read_bits(5)
            if raw == 0:
                out.extend([0] * count)
            else:
                out.extend(bits.read_signed(raw) for _ in range(count))
        else:
            for _ in range(count):
                q = bits.read_unary()
                u = (q << param) | bits.read_bits(param)
                out.append((u >> 1) ^ -(u & 1))
    return out


def _flac_subframe(bits: _FlacBits, block_size: int,
                   bps: int) -> list[int]:
    """One subframe (spec §9.2): constant / verbatim / fixed(0-4) /
    LPC(1-32), each with optional wasted-bits shift."""
    if bits.read_bit() != 0:
        raise ValueError("FLAC subframe padding bit set")
    ftype = bits.read_bits(6)
    wasted = 0
    if bits.read_bit():
        wasted = 1 + bits.read_unary()
    eff = bps - wasted
    if eff <= 0:
        raise ValueError("FLAC wasted bits exceed sample size")
    if ftype == 0:                             # CONSTANT
        x = [bits.read_signed(eff)] * block_size
    elif ftype == 1:                           # VERBATIM
        x = [bits.read_signed(eff) for _ in range(block_size)]
    elif 8 <= ftype <= 12:                     # FIXED order 0-4
        order = ftype - 8
        if order > block_size:
            raise ValueError("FLAC predictor order exceeds block")
        x = [bits.read_signed(eff) for _ in range(order)]
        res = _flac_residuals(bits, block_size, order)
        coefs = _FLAC_FIXED[order]
        for r in res:
            pred = sum(c * x[-j - 1] for j, c in enumerate(coefs))
            x.append(r + pred)
    elif ftype >= 32:                          # LPC order 1-32
        order = ftype - 31
        if order > block_size:
            raise ValueError("FLAC predictor order exceeds block")
        x = [bits.read_signed(eff) for _ in range(order)]
        prec = bits.read_bits(4) + 1
        if prec == 16:
            raise ValueError("FLAC LPC precision code reserved")
        shift = bits.read_signed(5)
        if shift < 0:
            raise ValueError("FLAC negative LPC shift")
        coefs = [bits.read_signed(prec) for _ in range(order)]
        res = _flac_residuals(bits, block_size, order)
        for r in res:
            pred = sum(c * x[-j - 1]
                       for j, c in enumerate(coefs)) >> shift
            x.append(r + pred)
    else:
        raise ValueError(f"FLAC subframe type {ftype} reserved")
    if wasted:
        x = [v << wasted for v in x]
    return x


def decode_flac_samples(payload: bytes):
    """REAL FLAC decode, stdlib+numpy only (the WAV treatment applied
    to FLAC — the audio 'metadata' tier retired for the common form):
    STREAMINFO + metadata-block skip, then every frame — CRC-8-checked
    headers, UTF-8-coded frame numbers, constant / verbatim /
    fixed(0-4) / LPC(1-32) subframes, partitioned-Rice residuals with
    escape partitions, wasted-bits shift, and left-side / right-side /
    mid-side stereo decorrelation. Returns (samples (n_frames,
    channels) int32 numpy array, sample_rate, bits_per_sample).

    Raises ValueError for structural damage (bad sync, CRC mismatch,
    reserved codes, truncation — the loud-corruption contract) and
    NotImplementedError for non-FLAC magic. Adversarial bytes are
    bounded: total decoded samples cap at the shared _MAX_PIXELS
    budget, unary runs and varints are length-gated.

    Scale note: like the GIF LZW loop, the bit-serial rice decode is
    the no-dependency correctness path; batch shape and tiering around
    it are format-agnostic, so a deployment with native audio libs
    swaps this one function."""
    import numpy as np

    if payload[:4] != b"fLaC":
        raise NotImplementedError("not a FLAC stream")
    if len(payload) < 8 + 34:
        raise ValueError("truncated FLAC STREAMINFO")
    if payload[4] & 0x7F != 0:
        raise ValueError("FLAC without leading STREAMINFO block")
    si = payload[8:8 + 34]
    u64 = int.from_bytes(si[10:18], "big")
    rate = u64 >> 44
    nch = ((u64 >> 41) & 0x07) + 1
    bps = ((u64 >> 36) & 0x1F) + 1
    total = u64 & ((1 << 36) - 1)
    if rate == 0:
        raise ValueError("FLAC with zero sample rate")
    if bps not in (8, 12, 16, 20, 24, 32):
        raise ValueError(f"FLAC sample size {bps} unsupported")
    # skip metadata blocks (STREAMINFO first, then any others)
    pos = 4
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated FLAC metadata")
        hdr = payload[pos]
        size = int.from_bytes(payload[pos + 1:pos + 4], "big")
        pos += 4 + size
        if pos > len(payload):
            raise ValueError("truncated FLAC metadata block")
        if hdr & 0x80:
            break
    chans: list[list[int]] = [[] for _ in range(nch)]
    while pos < len(payload):
        frame_start = pos
        bits = _FlacBits(payload, pos)
        sync = bits.read_bits(15)
        if sync != 0b111111111111100:
            raise ValueError("FLAC frame sync lost")
        bits.read_bit()                        # blocking strategy
        bs_code = bits.read_bits(4)
        sr_code = bits.read_bits(4)
        ch_code = bits.read_bits(4)
        ss_code = bits.read_bits(3)
        if bits.read_bit() != 0:
            raise ValueError("FLAC frame reserved bit set")
        _flac_utf8_number(bits)
        if bs_code == 0:
            raise ValueError("FLAC block size code reserved")
        elif bs_code == 6:
            block_size = bits.read_bits(8) + 1
        elif bs_code == 7:
            block_size = bits.read_bits(16) + 1
        else:
            block_size = _FLAC_BLOCK_SIZES[bs_code]
        if sr_code == 12:
            bits.read_bits(8)
        elif sr_code in (13, 14):
            bits.read_bits(16)
        elif sr_code == 15:
            raise ValueError("FLAC sample rate code invalid")
        fbps = _FLAC_BITS.get(ss_code, bps) if ss_code else bps
        if ss_code == 3:
            raise ValueError("FLAC sample size code reserved")
        crc_end = bits.pos + (1 if bits.bit else 0)
        if _crc8(payload[frame_start:crc_end]) != bits.read_bits(8):
            raise ValueError("FLAC frame header CRC mismatch")
        if ch_code < 8:
            fch = ch_code + 1
            if fch != nch:
                raise ValueError("FLAC frame channel count mismatch")
            sub = [
                _flac_subframe(bits, block_size, fbps)
                for _ in range(fch)]
        elif ch_code in (8, 9, 10):            # stereo decorrelation
            if nch != 2:
                raise ValueError("FLAC stereo frame in non-stereo "
                                 "stream")
            # the DIFFERENCE channel carries one extra bit
            if ch_code == 8:                   # left-side
                left = _flac_subframe(bits, block_size, fbps)
                side = _flac_subframe(bits, block_size, fbps + 1)
                sub = [left, [l - s for l, s in zip(left, side)]]
            elif ch_code == 9:                 # right-side
                side = _flac_subframe(bits, block_size, fbps + 1)
                right = _flac_subframe(bits, block_size, fbps)
                sub = [[r + s for r, s in zip(right, side)], right]
            else:                              # mid-side
                mid = _flac_subframe(bits, block_size, fbps)
                side = _flac_subframe(bits, block_size, fbps + 1)
                sub = [[], []]
                for m, s in zip(mid, side):
                    m = (m << 1) | (s & 1)
                    sub[0].append((m + s) >> 1)
                    sub[1].append((m - s) >> 1)
        else:
            raise ValueError("FLAC channel assignment reserved")
        bits.align()
        bits.read_bits(16)                     # frame CRC-16 (present;
        pos = bits.pos                         # contents not rechecked)
        for c in range(nch):
            chans[c].extend(sub[c])
        if len(chans[0]) * nch > _MAX_PIXELS:
            raise ValueError("FLAC sample count over the decode cap")
    if not chans[0]:
        # a metadata-only stream (STREAMINFO, no frames) isn't sample-
        # decodable but its header is intact: NotImplementedError so
        # extract_audio_features falls to the metadata tier (real
        # duration) instead of marking the row corrupt
        raise NotImplementedError("FLAC stream without audio frames")
    if total and len(chans[0]) > total:
        # trailing padding frames beyond STREAMINFO's declared total
        chans = [c[:total] for c in chans]
    s = np.array(chans, dtype=np.int64).T
    if np.abs(s).max() >= 1 << 31:
        raise ValueError("FLAC sample magnitude out of range")
    return s.astype(np.int32), rate, bps


AUDIO_FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("n_frames", T.LongType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("peak", T.DoubleType()),
    T.StructField("zero_crossing_rate", T.DoubleType()),
    T.StructField("audio_status", T.StringType()),
])


def extract_audio_features(df: DataFrame) -> DataFrame:
    """Audio feature extraction over MEDIA_SCHEMA rows (mapInPandas),
    tiered like the image operators:

    * ``decoded`` — WAV PCM and (r12) FLAC payloads decode for real:
      RMS and peak as fractions of full scale (rounded to 6dp), mean
      zero-crossing rate across channels, exact frame/duration math.
    * ``metadata`` — the container only yields duration (a non-PCM
      WAV, or a FLAC shape outside the decode path): real
      duration_ms, null signal stats.
    * ``fake`` / ``corrupt`` — unknown magic gets the deterministic
      hash stub (sha-derived pseudo duration, so tests can golden it);
      recognized-but-damaged bytes get the corrupt row.

    Scale shape: identical to extract_media_features — Arrow batches,
    per-row cost bounded by the sample cap, no shuffle."""
    import numpy as np

    def decode_samples(payload: bytes):
        """(samples, rate, full-scale divisor) from whichever real
        decoder claims the magic — WAV PCM (already int16-ranged) or
        FLAC (scaled by its own bits-per-sample)."""
        try:
            s, rate = decode_wav_samples(payload)
            return s, rate, 32768.0
        except NotImplementedError:
            s, rate, bps = decode_flac_samples(payload)
            return s, rate, float(1 << (bps - 1))

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in AUDIO_FEATURE_SCHEMA]
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                payload = bytes(row.payload) \
                    if row.payload is not None else b""
                try:
                    s, rate, scale = decode_samples(payload)
                    # integer-exact accumulation (r13): the sums are
                    # exact BIGINTs — invariant to summation order and
                    # partitioning, and replayable by a SQL twin —
                    # with ONE IEEE division/sqrt at the end (same
                    # result as the float path to the rounded 6dp,
                    # but engine- and order-deterministic by
                    # construction)
                    s64 = s.astype(np.int64)
                    nf, nch = s.shape
                    iscale = int(scale)
                    ss = int((s64 * s64).sum())
                    maxabs = int(np.abs(s64).max()) if nf else 0
                    rms = (math.sqrt(ss / (iscale * iscale * nf * nch))
                           if nf else 0.0)
                    peak = maxabs / iscale if nf else 0.0
                    neg = s64 < 0
                    zc = (int((neg[1:] != neg[:-1]).sum())
                          / (nch * (nf - 1)) if nf > 1 else 0.0)
                    # explicit half-UP 6dp (floor(v·1e6+0.5)/1e6):
                    # Python round() is banker's, SQL ROUND is
                    # half-away — exact binary fractions like
                    # maxabs/2^15 DO land on 6dp ties, so the tie
                    # rule must be pinned for the oracle twin
                    r6 = (lambda v: math.floor(v * 1e6 + 0.5) / 1e6)
                    out.append((row.media_id, rate, nch, nf,
                                nf * 1000 // rate, r6(rms),
                                r6(peak), r6(zc), "decoded"))
                except NotImplementedError:
                    try:
                        dur = decode_media(payload,
                                           row.kind)["duration_ms"]
                        out.append((row.media_id, None, None, None,
                                    dur, None, None, None, "metadata"))
                    except NotImplementedError:
                        w, h = fake_decode(payload)
                        out.append((row.media_id, None, None, None,
                                    (w * 256 + h), None, None, None,
                                    "fake"))
                    except ValueError:
                        out.append((row.media_id, None, None, None,
                                    None, None, None, None, "corrupt"))
                except ValueError:
                    out.append((row.media_id, None, None, None, None,
                                None, None, None, "corrupt"))
            yield pd.DataFrame(out, columns=cols)

    return (df.filter("kind = 'audio'")
              .mapInPandas(extract, AUDIO_FEATURE_SCHEMA))


def fake_decode(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in: pseudo-dimensions from the content hash
    (stable across runs/partitionings, so tests can golden it)."""
    h = hashlib.sha256(payload).digest()
    return 16 + h[0] % 240, 16 + h[1] % 240


def extract_media_features(df: DataFrame,
                           use_real_codec: bool = False) -> DataFrame:
    """mapInPandas feature extraction over MEDIA_SCHEMA-shaped rows."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                payload = bytes(row.payload) if row.payload is not None else b""
                w = h = dur = None
                status = "fake"
                if use_real_codec:
                    try:
                        meta = decode_media(payload, row.kind)
                        w, h = meta["width"], meta["height"]
                        dur = meta["duration_ms"]
                        status = "decoded"
                    except NotImplementedError:
                        w, h = fake_decode(payload)
                        status = "stubbed"
                    except ValueError:
                        status = "corrupt"
                else:
                    w, h = fake_decode(payload)
                out.append((
                    row.media_id, row.kind, len(payload),
                    payload[:4].hex(), hashlib.sha256(payload).hexdigest(),
                    w, h, dur, status,
                ))
            yield pd.DataFrame(
                out, columns=[f.name for f in MEDIA_FEATURE_SCHEMA])

    return df.mapInPandas(extract, MEDIA_FEATURE_SCHEMA)


MEDIA_RESIZE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("src_width", T.IntegerType()),
    T.StructField("src_height", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("resized", T.BooleanType()),
    T.StructField("resize_status", T.StringType()),
    T.StructField("payload", T.BinaryType()),
])

RESIZE_STUB_MAGIC = b"RSZ1"


def resize_images(df: DataFrame, max_dim: int = 224,
                  use_real_codec: bool = False) -> DataFrame:
    """Image-resize over MEDIA_SCHEMA rows (mapInPandas), tiered:

    * ``resampled`` — a GIF whose first frame pixel-decodes
      (decode_gif_pixels) AND needs shrinking: a TRUE area-average
      resample (closed-form separable box filter) runs and the output
      payload is a real, decodable PNG at the target dimensions.
    * ``passthrough`` — a GIF that pixel-decodes but already fits
      max_dim: the original payload rides through untouched.
    * ``decoded-dims`` — every other container decode_media reads
      (PNG, BMP, JPEG, TIFF, WebP, plus structurally-damaged GIF):
      real header dims, deterministic
      ``RSZ1 ‖ big-endian (w, h) ‖ sha256(source)`` marker payload.
    * ``fake-dims`` — unknown magic (or a dimensionless container
      mislabeled as image): hash-derived pseudo-dims + marker payload.

    The aspect-preserving target math is shared by every tier — integer
    floor division, never upscaling: for m = max(w, h) > max_dim the
    target is (w·max_dim // m, h·max_dim // m) floored at 1. With
    use_real_codec=False (the oracle-paired default) everything takes
    the fake-dims tier, unchanged since r9."""
    import struct

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                payload = bytes(row.payload) if row.payload is not None else b""
                status = "fake-dims"
                pixels = None
                if use_real_codec:
                    try:
                        pixels = decode_gif_pixels(payload)
                        h, w = pixels.shape[:2]
                        status = "resampled"
                    except (NotImplementedError, ValueError):
                        try:
                            meta = decode_media(payload, row.kind)
                            w, h = meta["width"], meta["height"]
                            status = "decoded-dims"
                        except (NotImplementedError, ValueError):
                            w, h = fake_decode(payload)
                    # a container can decode WITHOUT dimensions (WAV,
                    # audio-only MP4 mislabeled as image): fall back
                    # like the decode-failure tier instead of max(None)
                    if w is None or h is None:
                        w, h = fake_decode(payload)
                        status = "fake-dims"
                else:
                    w, h = fake_decode(payload)
                m = max(w, h)
                if m > max_dim:
                    tw = max(1, w * max_dim // m)
                    th = max(1, h * max_dim // m)
                    resized = True
                else:
                    tw, th, resized = w, h, False
                if pixels is not None:
                    if resized:
                        out_payload = encode_png(
                            area_resample(pixels, tw, th))
                    else:
                        out_payload, status = payload, "passthrough"
                else:
                    out_payload = (RESIZE_STUB_MAGIC
                                   + struct.pack(">II", tw, th)
                                   + hashlib.sha256(payload).digest())
                out.append((row.media_id, w, h, tw, th, resized,
                            status, out_payload))
            yield pd.DataFrame(
                out, columns=[f.name for f in MEDIA_RESIZE_SCHEMA])

    return (df.filter("kind = 'image'")
              .mapInPandas(resize, MEDIA_RESIZE_SCHEMA))


def sample_frames(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Video frame-sampling plumbing: evenly-spaced frame offsets from
    duration metadata. Pure column math (no payload decode) — the
    cheap planning pass a 100-TB pipeline runs before committing to
    pixel work; sample_frame_pixels is the real-decode companion."""
    import pyspark.sql.functions as F
    idx = F.sequence(F.lit(0), F.lit(n_frames - 1))
    return (df.filter(F.col("kind") == "video")
              .select("media_id", "duration_ms",
                      F.transform(
                          idx,
                          lambda i: (F.col("duration_ms") * i
                                     / F.lit(n_frames)).cast("long"))
                       .alias("frame_offsets_ms")))


FRAME_SAMPLE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame_ts_ms", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    # exact integer sum of every decoded channel value (r13): a
    # pixel-content witness the driver hash can pin and a SQL twin
    # can replay — null on the non-decoded tiers
    T.StructField("pixel_sum", T.LongType()),
    T.StructField("frame_status", T.StringType()),
    T.StructField("frame_png", T.BinaryType()),
])

FRAME_STUB_MAGIC = b"FRM1"


def sample_frame_pixels(df: DataFrame, n_frames: int = 4,
                        max_dim: int | None = None,
                        encode_payload: bool = True) -> DataFrame:
    """REAL frame sampling over MEDIA_SCHEMA video rows (mapInPandas,
    one output row per sampled frame), tiered like resize_images:

    * ``decoded`` — the payload is an animated GIF: up to n_frames
      evenly-spaced frames pixel-decode for real (disposal/transparency
      coalescing), optionally area-resample down to max_dim, and each
      frame ships as a REAL, decodable PNG.
    * ``stubbed-codec`` — any other video (MP4, AVI, MJPEG...): frame
      TIMESTAMPS are real where the container carries a duration
      (evenly spaced over decode_media's mvhd/avih duration — the
      sample_frames math; None without one), the pixel payload is the
      deterministic ``FRM1 ‖ u32 frame_idx ‖ sha256(source)`` marker.
    * ``corrupt`` — a GIF with damaged structure: one row, everything
      null but the status.

    Scale shape: identical to extract_media_features — Arrow batches
    stream through mapInPandas, per-row cost is bounded by the frame
    cap, nothing shuffles."""
    import struct

    import numpy as np

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in FRAME_SAMPLE_SCHEMA]
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                payload = bytes(row.payload) \
                    if row.payload is not None else b""
                try:
                    frames, ts = decode_video_frames(payload, n_frames)
                    for i, (img, t) in enumerate(zip(frames, ts)):
                        if max_dim is not None \
                                and max(img.shape[:2]) > max_dim:
                            h, w = img.shape[:2]
                            m = max(w, h)
                            img = area_resample(
                                img, max(1, w * max_dim // m),
                                max(1, h * max_dim // m))
                        h, w = img.shape[:2]
                        psum = int(img.astype(np.int64).sum())
                        # consumers that project the payload away
                        # (stats-only queries) skip the per-frame PNG
                        # re-encode — mapInPandas sees no column
                        # pruning, so the flag is the pruning
                        png = encode_png(img) if encode_payload \
                            else None
                        out.append((row.media_id, i, t, w, h, psum,
                                    "decoded", png))
                except NotImplementedError:
                    # true-codec tier: real timestamps from container
                    # metadata, deterministic marker payloads
                    try:
                        dur = decode_media(payload,
                                           row.kind)["duration_ms"]
                    except (NotImplementedError, ValueError):
                        dur = None
                    sha = hashlib.sha256(payload).digest()
                    for i in range(n_frames):
                        t = (dur * i // n_frames) if dur else None
                        out.append((row.media_id, i, t, None, None,
                                    None, "stubbed-codec",
                                    FRAME_STUB_MAGIC
                                    + struct.pack(">I", i) + sha))
                except ValueError:
                    out.append((row.media_id, None, None, None, None,
                                None, "corrupt", None))
            yield pd.DataFrame(out, columns=cols)

    return (df.filter("kind = 'video'")
              .mapInPandas(sample, FRAME_SAMPLE_SCHEMA))
