"""Exception-type contract pins for the pure-Python media decoders.

The tier dispatch in resize_images / extract_media_features /
extract_audio_features / sample_frame_pixels catches exactly
(NotImplementedError, ValueError) — any other exception type escaping
a decoder fails the whole Spark task on one adversarial row (the r11
ADVICE bug class). These tests pin leaks found by targeted review +
mutation fuzzing in r12, each previously raising IndexError /
RecursionError:

1. GIF truncated between a local color table and the LZW minimum code
   size byte — IndexError.
2. MP4 tkhd box with size 8 (no body) at the end of the payload —
   IndexError.
3. Deeply-nested moov/trak (MP4) or `rec ` LIST (AVI) containers —
   RecursionError from recursive box walks (the walks use explicit
   continuation stacks that preserve the document-order visit the
   "first tkhd with real dimensions wins" rule depends on).

Plus the Avro reader's bounded-failure pins and a seeded mutation-fuzz
smoke over every decode entry point (tools/fuzz_decoders.py's corpus).
"""

import random
import struct

import pytest

import tools.fuzz_decoders as FZ
from big_data_crypto_sentiment_spark.operators.multimodal import (
    _decode_mp4,
    decode_gif_pixels,
    decode_media,
)

OK_TYPES = (ValueError, NotImplementedError)


def test_gif_truncated_before_lzw_code_size_is_valueerror():
    g = (b"GIF89a" + struct.pack("<HH", 2, 2) + bytes([0, 0, 0])
         + b"\x2c" + struct.pack("<HHHH", 0, 0, 2, 2)
         + bytes([0x80]) + b"\x00" * 6)     # local CT then nothing
    with pytest.raises(ValueError, match="LZW code size"):
        decode_gif_pixels(g)


def test_mp4_empty_tkhd_box_does_not_crash():
    mp4 = (struct.pack(">I", 16) + b"ftyp" + b"isom\x00\x00\x00\x00"
           + struct.pack(">I", 16) + b"moov"
           + struct.pack(">I", 8) + b"tkhd")   # size-8: no body byte
    with pytest.raises(ValueError, match="without moov metadata"):
        _decode_mp4(mp4)


def test_deeply_nested_mp4_boxes_do_not_recurse():
    inner = b""
    for _ in range(5000):
        inner = struct.pack(">I", 8 + len(inner)) + b"moov" + inner
    mp4 = (struct.pack(">I", 16) + b"ftyp" + b"isom\x00\x00\x00\x00"
           + inner)
    with pytest.raises(ValueError):
        _decode_mp4(mp4)


def test_deeply_nested_avi_rec_lists_do_not_recurse():
    inner = b""
    for _ in range(5000):
        inner = b"LIST" + struct.pack("<I", 4 + len(inner)) + b"rec " \
            + inner
    avi = b"RIFF" + struct.pack("<I", 4 + len(inner)) + b"AVI " + inner
    with pytest.raises(ValueError):
        decode_media(avi, "video")


def test_mp4_first_video_track_still_wins_after_stack_rewrite():
    # two traks: audio (0x0 dims) then video (32x24) — document order
    # must survive the recursion -> continuation-stack rewrite
    def box(btype, body):
        return struct.pack(">I", 8 + len(body)) + btype + body

    def tkhd(w, h):
        body = bytes([0]) + b"\x00" * 75 \
            + struct.pack(">II", w << 16, h << 16)
        return box(b"tkhd", body)

    moov = box(b"moov", box(b"trak", tkhd(0, 0))
               + box(b"trak", tkhd(32, 24))
               + box(b"trak", tkhd(640, 480)))
    mp4 = box(b"ftyp", b"isom\x00\x00\x00\x00") + moov
    meta = _decode_mp4(mp4)
    assert (meta["width"], meta["height"]) == (32, 24)


def test_gif_lzw_code_size_over_11_is_valueerror():
    # LZW codes cap at 12 bits, so mcs > 11 is structurally impossible;
    # a crafted mcs byte of 46 used to hang the executor building a
    # 2^46-entry initial table before any pixel bound applied
    g = (b"GIF89a" + struct.pack("<HH", 8, 8)
         + bytes([0x80, 0, 0]) + bytes(6)
         + b"\x2c" + struct.pack("<HHHH", 0, 0, 8, 8) + bytes([0])
         + bytes([46, 2, 0x44, 0x8E, 0]) + b"\x3b")
    with pytest.raises(ValueError, match="minimum code size"):
        decode_gif_pixels(g)


def test_avro_reader_adversarial_bytes_raise_valueerror():
    """The pure-Python Avro OCF reader fails LOUDLY by contract, but
    the failure must be a bounded ValueError, never an executor hang
    or a silently wrong value:

    * truncated varint → ValueError (was IndexError);
    * a run of >10 continuation bytes → ValueError (a crafted stream
      of 0x80 bytes must not build an arbitrarily large Python int);
    * enum index out of range → ValueError (a NEGATIVE index used to
      wrap via Python list indexing and return the WRONG symbol);
    * array/map block counts and container record counts are bounded
      against the remaining bytes (items encoding to ZERO bytes —
      `null` items, empty records — would otherwise let a count of
      2^60 hang the executor appending that many values)."""
    import json

    from big_data_crypto_sentiment_spark.sources import avro_io as A

    r = A._Reader(b"\x80\x80")                 # truncated mid-varint
    with pytest.raises(ValueError, match="truncated"):
        r.read_long()

    r = A._Reader(b"\x80" * 20 + b"\x01")      # over-long varint
    with pytest.raises(ValueError, match="varint"):
        r.read_long()

    enum_schema = {"type": "enum", "name": "E", "symbols": ["X", "Y"]}
    with pytest.raises(ValueError, match="enum index"):
        A._decode(enum_schema, A._Reader(A._zigzag_encode(-1)))
    with pytest.raises(ValueError, match="enum index"):
        A._decode(enum_schema, A._Reader(A._zigzag_encode(2)))

    with pytest.raises(ValueError, match="block count"):
        A._decode({"type": "array", "items": "null"},
                  A._Reader(A._zigzag_encode(1 << 60)))

    empty = json.dumps(
        {"type": "record", "name": "r", "fields": []}).encode()
    out = bytearray(A.MAGIC)
    out += A._zigzag_encode(1)
    out += A._zigzag_encode(len(b"avro.schema")) + b"avro.schema"
    out += A._zigzag_encode(len(empty)) + empty
    out += A._zigzag_encode(0)
    out += A.SYNC
    out += A._zigzag_encode(1 << 40)           # record-count bomb,
    out += A._zigzag_encode(0)                 # zero-byte block
    out += A.SYNC
    with pytest.raises(ValueError, match="record count"):
        A.decode_container(bytes(out))


def test_avro_legitimate_blocks_still_decode():
    # zero-byte items in PLAUSIBLE counts keep working: a 100-null
    # array and a small empty-record block sit well under the bound
    from big_data_crypto_sentiment_spark.sources import avro_io as A

    buf = A._zigzag_encode(100) + A._zigzag_encode(0)
    vals = A._decode({"type": "array", "items": "null"},
                     A._Reader(buf))
    assert vals == [None] * 100


def test_mutation_fuzz_smoke_only_contract_exceptions_escape():
    """Seeded bounded fuzz: byte-mutated valid payloads through every
    decode entry point — only ValueError/NotImplementedError (or a
    successful decode) may come back."""
    seeds = FZ.build_seeds()
    for p in seeds:                  # every seed is a valid container
        decode_media(p, "image")
    rng = random.Random(1234)
    for _ in range(400):
        p = FZ.mutate(rng, seeds)
        for fn in FZ.ENTRY_POINTS:
            try:
                fn(p)
            except OK_TYPES:
                pass


def test_avro_zero_byte_items_beyond_1024_are_legal():
    """Arrays/maps whose items encode to ZERO bytes (`null` items,
    empty records) are legal at counts far above the byte-ratio
    bound's old 1024 margin — a 5000-null array in a tiny buffer must
    decode; only counts past the absolute per-block item budget die."""
    from big_data_crypto_sentiment_spark.sources import avro_io as A

    buf = A._zigzag_encode(5000) + A._zigzag_encode(0)
    vals = A._decode({"type": "array", "items": "null"},
                     A._Reader(buf))
    assert vals == [None] * 5000

    bomb = A._zigzag_encode(A._MAX_BLOCK_ITEMS + 1) \
        + A._zigzag_encode(0)
    with pytest.raises(ValueError, match="block count"):
        A._decode({"type": "array", "items": "null"}, A._Reader(bomb))
