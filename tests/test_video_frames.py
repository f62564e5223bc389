"""Real video-frame decode (r11 verdict #2): animated-GIF coalescing
(disposal + transparency against the logical screen), the loud
NotImplementedError tier for every other video (MP4, AVI, MJPEG), and
the tiered sample_frame_pixels operator end to end.

The animated GIF under test is SPEC-BUILT by an independent encoder
(the test-side LZW writer from test_sinks_multimodal), so the decoder
is pinned against GIF89a itself, not against our own code.
"""

import struct

import numpy as np
import pytest

from big_data_crypto_sentiment_spark.operators.multimodal import (
    FRAME_STUB_MAGIC,
    area_resample,
    decode_gif_frames,
    decode_gif_pixels,
    decode_media,
    decode_video_frames,
    sample_frame_pixels,
)
from big_data_crypto_sentiment_spark.schemas import MEDIA_SCHEMA
from tests.test_sinks_multimodal import (
    PALETTE,
    _jpeg,
    _lzw_encode,
    _mp4,
    _read_png,
)

RED, GREEN, BLUE, K = (np.array(c, dtype=np.uint8) for c in PALETTE)


def _agif(sw, sh, frames, palette=PALETTE, bg_index=3, mcs=2):
    """Independent animated-GIF encoder: global color table, one GCE +
    image descriptor per frame. Each frame: dict(idx 2-D list, left,
    top, delay_cs, disposal, transparent=None)."""
    gct_bits = 1
    pal = bytearray()
    for r, g, b in palette:
        pal += bytes((r, g, b))
    while len(pal) < 3 * (2 << gct_bits):
        pal += b"\x00\x00\x00"
    out = bytearray(b"GIF89a" + struct.pack("<HH", sw, sh)
                    + bytes((0x80 | gct_bits, bg_index, 0)) + bytes(pal))
    for f in frames:
        idx = f["idx"]
        h, w = len(idx), len(idx[0])
        tr = f.get("transparent")
        packed = (f.get("disposal", 0) << 2) | (1 if tr is not None
                                                else 0)
        out += (b"\x21\xf9\x04" + bytes((packed,))
                + struct.pack("<H", f.get("delay_cs", 0))
                + bytes((tr if tr is not None else 0,)) + b"\x00")
        out += (b"\x2c"
                + struct.pack("<HHHH", f.get("left", 0),
                              f.get("top", 0), w, h)
                + bytes((0,)))
        lzw = _lzw_encode([v for row in idx for v in row], mcs)
        out += bytes((mcs,))
        for i in range(0, len(lzw), 255):
            part = lzw[i:i + 255]
            out += bytes((len(part),)) + part
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def _four_frame_gif():
    """4x4 screen, background K. Exercises every disposal mode and
    transparency; returns (payload, expected canvases, expected ts)."""
    frames = [
        # full-screen red, disposal 1 (leave in place)
        {"idx": [[0] * 4] * 4, "disposal": 1, "delay_cs": 10},
        # 2x2 patch at (1,1): green/BLUE-transparent checker,
        # disposal 3 (restore previous afterwards)
        {"idx": [[1, 2], [2, 1]], "left": 1, "top": 1,
         "transparent": 2, "disposal": 3, "delay_cs": 20},
        # 2x2 solid green at (2,2), disposal 2 (restore to background)
        {"idx": [[1, 1], [1, 1]], "left": 2, "top": 2,
         "disposal": 2, "delay_cs": 30},
        # 1x1 blue at (0,0) — shows frame 2's rect went back to bg
        {"idx": [[2]], "disposal": 0, "delay_cs": 40},
    ]
    c0 = np.tile(RED, (4, 4, 1))
    c1 = c0.copy()
    c1[1, 1] = GREEN                     # transparent cells stay red
    c1[2, 2] = GREEN
    c2 = c0.copy()                       # disposal 3 restored frame 1
    c2[2:4, 2:4] = GREEN
    c3 = c0.copy()
    c3[2:4, 2:4] = K                     # disposal 2: rect -> background
    c3[0, 0] = BLUE
    return (_agif(4, 4, frames), [c0, c1, c2, c3],
            [0, 100, 300, 600])


def test_animated_gif_disposal_and_transparency_coalescing():
    payload, want, ts = _four_frame_gif()
    frames, delays = decode_gif_frames(payload)
    assert len(frames) == 4
    assert delays == [100, 200, 300, 400]
    for got, exp in zip(frames, want):
        assert got.shape == (4, 4, 3)
        assert (got == exp).all()


def test_decode_gif_pixels_still_returns_first_block_uncomposed():
    payload, _, _ = _four_frame_gif()
    first = decode_gif_pixels(payload)
    assert first.shape == (4, 4, 3)
    assert (first == np.tile(RED, (4, 4, 1))).all()
    # ... even when later blocks are damaged (first-frame read is
    # O(first frame) and never walks the tail): truncate at the
    # second frame's GCE and replace it with garbage
    cut = payload.index(b"\x21\xf9", 14)   # 2nd GCE (1st is at 25)
    cut = payload.index(b"\x21\xf9", cut + 2)
    assert (decode_gif_pixels(payload[:cut] + b"\xff" * 4)
            == np.tile(RED, (4, 4, 1))).all()


def test_gif_frame_outside_logical_screen_is_corrupt():
    bad = _agif(4, 4, [{"idx": [[0, 0], [0, 0]], "left": 3, "top": 3}])
    with pytest.raises(ValueError):
        decode_gif_frames(bad)


def test_video_frames_even_sampling_and_timestamps():
    frames = [{"idx": [[i % 4]], "delay_cs": 10, "disposal": 1}
              for i in range(6)]
    payload = _agif(1, 1, frames)
    got, ts = decode_video_frames(payload, n_frames=3)
    assert len(got) == 3
    assert ts == [0, 200, 400]          # indices 0, 2, 4
    pal = np.array(PALETTE, dtype=np.uint8)
    for img, i in zip(got, (0, 2, 4)):
        assert (img[0, 0] == pal[i % 4]).all()


def _avi(frames_jpeg, usec_per_frame=40000, w=16, h=16,
         codec_tag=b"00dc"):
    """Spec-forward AVI builder: hdrl LIST with avih, movi LIST with
    one video chunk per frame."""
    def chunk(cid, body):
        return (cid + struct.pack("<I", len(body)) + body
                + (b"\x00" if len(body) & 1 else b""))

    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)

    avih = (struct.pack("<I", usec_per_frame) + b"\x00" * 12
            + struct.pack("<I", len(frames_jpeg)) + b"\x00" * 12
            + struct.pack("<II", w, h) + b"\x00" * 16)
    movi = b"".join(chunk(codec_tag, f) for f in frames_jpeg)
    body = b"AVI " + lst(b"hdrl", chunk(b"avih", avih)) \
        + lst(b"movi", movi)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_true_codecs_stay_loud():
    # MP4, bare MJPEG and AVI (MJPEG or not) are the stubbed-codec tier
    for payload in (_mp4(1000, 60000, 64, 48), _jpeg(16, 16) * 3,
                    _avi([_jpeg(16, 16)]),
                    _avi([b"\x00\x00\x00\x01garbage"])):
        with pytest.raises(NotImplementedError):
            decode_video_frames(payload, n_frames=2)


def test_sample_frame_pixels_tiers_end_to_end(spark):
    gif_payload, want, want_ts = _four_frame_gif()
    mj = _jpeg(8, 8) * 2
    avi = _avi([_jpeg(8, 8)] * 3, usec_per_frame=40000)   # 120 ms
    rows = [
        (1, "video", gif_payload, "image/gif", None, None, None),
        (2, "video", mj, "video/x-motion-jpeg", None, None, None),
        (3, "video", _mp4(1000, 60000, 64, 48), "video/mp4",
         None, None, 60000),
        (4, "video", b"GIF89a\x01", "image/gif", None, None, None),
        (5, "image", gif_payload, "image/gif", None, None, None),
        (6, "video", avi, "video/x-msvideo", None, None, None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = sample_frame_pixels(df, n_frames=4).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r.media_id, []).append(r)
    assert 5 not in by_id                      # images filtered out

    gif_rows = sorted(by_id[1], key=lambda r: r.frame_idx)
    assert [r.frame_status for r in gif_rows] == ["decoded"] * 4
    assert [r.frame_ts_ms for r in gif_rows] == want_ts
    for r, exp in zip(gif_rows, want):
        png = _read_png(bytes(r.frame_png))
        assert (png == exp).all()              # frames are REAL PNGs

    # bare MJPEG has no timing: stubbed frames without timestamps
    mj_rows = sorted(by_id[2], key=lambda r: r.frame_idx)
    assert [r.frame_status for r in mj_rows] == ["stubbed-codec"] * 4
    assert [r.frame_ts_ms for r in mj_rows] == [None] * 4
    # MJPEG-in-AVI: timestamps dur*i//n_frames from the avih duration
    avi_rows = sorted(by_id[6], key=lambda r: r.frame_idx)
    assert [r.frame_status for r in avi_rows] == ["stubbed-codec"] * 4
    assert [r.frame_ts_ms for r in avi_rows] == [0, 30, 60, 90]
    assert all(bytes(r.frame_png).startswith(FRAME_STUB_MAGIC)
               for r in mj_rows + avi_rows)

    mp4_rows = sorted(by_id[3], key=lambda r: r.frame_idx)
    assert [r.frame_status for r in mp4_rows] == ["stubbed-codec"] * 4
    assert [r.frame_ts_ms for r in mp4_rows] == [0, 15000, 30000,
                                                 45000]
    assert all(bytes(r.frame_png).startswith(FRAME_STUB_MAGIC)
               for r in mp4_rows)

    assert [r.frame_status for r in by_id[4]] == ["corrupt"]


def test_sample_frame_pixels_resamples_to_max_dim(spark):
    idx = [[(r + c) % 4 for c in range(8)] for r in range(8)]
    payload = _agif(8, 8, [{"idx": idx, "disposal": 1,
                            "delay_cs": 5}])
    df = spark.createDataFrame(
        [(1, "video", payload, "image/gif", None, None, None)],
        MEDIA_SCHEMA)
    row = sample_frame_pixels(df, n_frames=1, max_dim=4).collect()[0]
    assert (row.width, row.height) == (4, 4)
    pal = np.array(PALETTE, dtype=np.uint8)
    full = pal[np.array(idx)]
    want = area_resample(full, 4, 4)
    assert (_read_png(bytes(row.frame_png)) == want).all()


def test_avi_through_sample_frame_pixels(spark):
    import hashlib

    avi = _avi([_jpeg(8, 8)] * 4, usec_per_frame=100000)
    # container metadata: duration = frames x interval, avih dims
    m = decode_media(avi, "video")
    assert m["duration_ms"] == 400 and (m["width"], m["height"]) == (16, 16)
    df = spark.createDataFrame(
        [(1, "video", avi, "video/x-msvideo", None, None, None)],
        MEDIA_SCHEMA)
    rows = sorted(sample_frame_pixels(df, n_frames=2).collect(),
                  key=lambda r: r.frame_idx)
    assert [r.frame_status for r in rows] == ["stubbed-codec"] * 2
    assert [r.frame_ts_ms for r in rows] == [0, 200]
    sha = hashlib.sha256(avi).digest()
    assert [bytes(r.frame_png) for r in rows] == [
        FRAME_STUB_MAGIC + struct.pack(">I", i) + sha for i in (0, 1)]
