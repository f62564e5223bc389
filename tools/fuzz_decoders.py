"""Mutation fuzz for the media decoders: byte flips, truncations and
insertions over a seed corpus, through every decode entry point, with
a SIGALRM watchdog per call. The tier contract is asserted: ONLY
ValueError / NotImplementedError (or a successful decode) may escape,
because those are the exceptions the operators' tiering catches.

Seeds: the media_fixtures WAV, FLAC and animated GIF, an encode_png
output, and minimal hand-built headers for every container decode_media
walks (JPEG SOF, TIFF IFD, WebP VP8/VP8L/VP8X, MP4 moov/mvhd/tkhd, AVI
avih). tests/test_decoder_hardening.py runs a bounded seeded smoke over
the same corpus and mutate step.

Usage: python tools/fuzz_decoders.py [iterations] [seed]
"""

from __future__ import annotations

import os
import random
import signal
import struct
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_crypto_sentiment_spark.operators import (  # noqa: E402
    media_fixtures as MF,
)
from big_data_crypto_sentiment_spark.operators.multimodal import (  # noqa: E402
    decode_flac_samples,
    decode_gif_frames,
    decode_media,
    decode_video_frames,
    decode_wav_samples,
    encode_png,
)

OK_TYPES = (ValueError, NotImplementedError)
TIMEOUT_S = 5

ENTRY_POINTS = (lambda p: decode_media(p, "image"), decode_gif_frames,
                decode_video_frames, decode_wav_samples,
                decode_flac_samples)


def _riff_chunk(cid: bytes, body: bytes) -> bytes:
    return (cid + struct.pack("<I", len(body)) + body
            + (b"\x00" if len(body) & 1 else b""))


def _riff(form: bytes, chunks: bytes) -> bytes:
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + form + chunks


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def _jpeg_segment(marker: int, body: bytes) -> bytes:
    return bytes((0xFF, marker)) + struct.pack(">H", 2 + len(body)) + body


def build_seeds() -> list[bytes]:
    import numpy as np

    img = (np.arange(147) % 256).astype(np.uint8).reshape(7, 7, 3)
    seeds = [MF.wav_pcm_bytes(31), MF.flac_bytes(13),
             MF.gif_animated_bytes(7), encode_png(img)]
    # JPEG: SOI, DQT, SOF0 (8x8, one component), EOI
    jpeg = (b"\xff\xd8" + _jpeg_segment(0xDB, bytes(65))
            + _jpeg_segment(0xC0, bytes([8]) + struct.pack(">HH", 8, 8)
                            + bytes([1, 1, 0x11, 0]))
            + b"\xff\xd9")
    seeds.append(jpeg)
    # TIFF, both byte orders: ImageWidth as SHORT, ImageLength as LONG
    for bo, mark in (("<", b"II*\x00"), (">", b"MM\x00*")):
        seeds.append(mark + struct.pack(bo + "IH", 8, 2)
                     + struct.pack(bo + "HHIHH", 256, 3, 1, 640, 0)
                     + struct.pack(bo + "HHII", 257, 4, 1, 480)
                     + struct.pack(bo + "I", 0))
    # WebP, all three stored forms
    w, h = 320, 240
    for cid, body in (
            (b"VP8 ", b"\x00\x00\x00\x9d\x01\x2a"
             + struct.pack("<HH", w, h) + bytes(4)),
            (b"VP8L", b"\x2f" + struct.pack(
                "<I", (w - 1) | ((h - 1) << 14))),
            (b"VP8X", bytes(4) + (w - 1).to_bytes(3, "little")
             + (h - 1).to_bytes(3, "little"))):
        seeds.append(_riff(b"WEBP", _riff_chunk(cid, body)))
    # MP4: ftyp, then moov with a v0 mvhd and one v0 tkhd
    mvhd = _box(b"mvhd", bytes(12) + struct.pack(">II", 1000, 5000)
                + bytes(80))
    tkhd = _box(b"tkhd", bytes(76) + struct.pack(">II", 64 << 16,
                                                 48 << 16))
    seeds.append(_box(b"ftyp", b"isom\x00\x00\x02\x00")
                 + _box(b"moov", mvhd + _box(b"trak", tkhd)))
    # AVI: hdrl LIST with avih, movi LIST with two MJPEG frames
    avih = (struct.pack("<I", 40000) + bytes(12) + struct.pack("<I", 2)
            + bytes(12) + struct.pack("<II", 8, 8) + bytes(16))
    seeds.append(_riff(b"AVI ", _riff_chunk(
        b"LIST", b"hdrl" + _riff_chunk(b"avih", avih))
        + _riff_chunk(b"LIST", b"movi" + _riff_chunk(b"00dc", jpeg) * 2)))
    return seeds


def mutate(rng: random.Random, seeds: list[bytes]) -> bytes:
    """One fuzz input: a random seed with 1-7 byte flips, truncations
    or short insertions."""
    base = bytearray(seeds[rng.randrange(len(seeds))])
    for _ in range(rng.randrange(1, 8)):
        op = rng.random()
        if op < 0.6 and base:
            base[rng.randrange(len(base))] = rng.getrandbits(8)
        elif op < 0.8 and len(base) > 4:
            del base[rng.randrange(len(base)):]
        else:
            at = rng.randrange(len(base) + 1)
            base[at:at] = bytes(rng.getrandbits(8)
                                for _ in range(rng.randrange(1, 4)))
    return bytes(base)


def main() -> int:
    iters = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    rng = random.Random(int(sys.argv[2]) if len(sys.argv) > 2 else 99)
    seeds = build_seeds()

    def alarm(_s, _f):
        raise TimeoutError("decoder exceeded the watchdog")

    signal.signal(signal.SIGALRM, alarm)
    bad = 0
    for it in range(iters):
        p = mutate(rng, seeds)
        for fn in ENTRY_POINTS:
            signal.alarm(TIMEOUT_S)
            try:
                fn(p)
            except OK_TYPES:
                pass
            except BaseException as ex:   # noqa: BLE001 — the report
                bad += 1
                print(f"ESCAPE iter={it} fn={fn} "
                      f"{type(ex).__name__}: {ex}", flush=True)
                with open(f"/tmp/fuzz_escape_{bad}.bin", "wb") as f:
                    f.write(p)
            finally:
                signal.alarm(0)
        if it and it % 2000 == 0:
            print(f"{it}/{iters} mutations, {bad} escapes", flush=True)
    print(f"done: {iters} mutations, {bad} escapes")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
