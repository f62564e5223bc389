"""Real FLAC decode pins (r12): decode_flac_samples against an
INDEPENDENT spec-built encoder —
frame headers with CRC-8, constant / verbatim / fixed / LPC subframes,
partitioned-Rice residuals (incl. the escape-to-raw partitions),
wasted bits, mid-side stereo decorrelation, and the tier wiring in
extract_audio_features.
"""

import struct

import numpy as np
import pytest

from big_data_crypto_sentiment_spark.operators.multimodal import (
    decode_flac_samples,
    decode_media,
    extract_audio_features,
)


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int):
        value &= (1 << n) - 1
        self.acc = (self.acc << n) | value
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)

    def write_signed(self, value: int, n: int):
        self.write(value & ((1 << n) - 1), n)

    def write_unary(self, q: int):
        for _ in range(q):
            self.write(0, 1)
        self.write(1, 1)

    def align(self):
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 \
                else (crc << 1) & 0xFF
    return crc


def _streaminfo(rate, nch, bps, total) -> bytes:
    u64 = (rate << 44) | ((nch - 1) << 41) | ((bps - 1) << 36) | total
    body = (struct.pack(">HH", 16, 65535) + b"\x00" * 6
            + u64.to_bytes(8, "big") + b"\x00" * 16)
    assert len(body) == 34
    return b"fLaC" + b"\x80" + (34).to_bytes(3, "big") + body


def _frame_header(block_size, ch_code, frame_no=0) -> bytes:
    w = _BitWriter()
    w.write(0b11111111111110, 14)      # sync
    w.write(0, 1)                      # reserved
    w.write(0, 1)                      # fixed blocking
    bs_code = 6 if block_size <= 256 else 7   # 8- or 16-bit at end
    w.write(bs_code, 4)
    w.write(0, 4)                      # rate: from STREAMINFO
    w.write(ch_code, 4)
    w.write(0, 3)                      # sample size: from STREAMINFO
    w.write(0, 1)                      # reserved
    assert frame_no < 0x80
    w.write(frame_no, 8)               # UTF-8 single byte
    w.write(block_size - 1, 8 if bs_code == 6 else 16)
    hdr = w.bytes()
    return hdr + bytes([_crc8(hdr)])


def _write_residuals(w: _BitWriter, res, k: int, po: int = 0,
                     order: int = 0, block_size: int = 0,
                     escape_raw: int | None = None):
    """method-0 partitioned rice: po partitions, one parameter each
    (escape_raw switches every partition to raw two's complement)."""
    w.write(0, 2)                      # coding method 0: 4-bit params
    w.write(po, 4)
    nparts = 1 << po
    i = 0
    for p in range(nparts):
        count = (block_size >> po) - (order if p == 0 else 0)
        if escape_raw is not None:
            w.write(15, 4)             # escape
            w.write(escape_raw, 5)
            for _ in range(count):
                w.write_signed(res[i], escape_raw)
                i += 1
        else:
            w.write(k, 4)
            for _ in range(count):
                v = res[i]
                i += 1
                u = (v << 1) ^ (v >> 63)   # zigzag
                w.write_unary(u >> k)
                w.write(u & ((1 << k) - 1), k)
    assert i == len(res)


def _subframe_verbatim(w, samples, bps):
    w.write(0, 1)
    w.write(1, 6)
    w.write(0, 1)                      # no wasted bits
    for s in samples:
        w.write_signed(int(s), bps)


def _subframe_constant(w, value, bps):
    w.write(0, 1)
    w.write(0, 6)
    w.write(0, 1)
    w.write_signed(int(value), bps)


def _subframe_fixed(w, samples, order, bps, k=3, po=0,
                    escape_raw=None):
    coefs = {1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}
    c = coefs.get(order, [])
    w.write(0, 1)
    w.write(8 + order, 6)
    w.write(0, 1)
    x = [int(s) for s in samples]
    for s in x[:order]:
        w.write_signed(s, bps)
    res = [x[i] - sum(cj * x[i - j - 1] for j, cj in enumerate(c))
           for i in range(order, len(x))]
    _write_residuals(w, res, k, po, order, len(x), escape_raw)


def _subframe_lpc(w, samples, coefs, shift, bps, prec=12, k=3):
    order = len(coefs)
    w.write(0, 1)
    w.write(32 + order - 1, 6)
    w.write(0, 1)
    x = [int(s) for s in samples]
    for s in x[:order]:
        w.write_signed(s, bps)
    w.write(prec - 1, 4)
    w.write_signed(shift, 5)
    for c in coefs:
        w.write_signed(c, prec)
    res = [x[i] - (sum(c * x[i - j - 1]
                       for j, c in enumerate(coefs)) >> shift)
           for i in range(order, len(x))]
    _write_residuals(w, res, k, 0, order, len(x))


def _frame(block_size, ch_code, build_subframes, frame_no=0) -> bytes:
    w = _BitWriter()
    build_subframes(w)
    w.align()
    body = w.bytes()
    return (_frame_header(block_size, ch_code, frame_no) + body
            + b"\x00\x00")             # CRC-16 slot (decoder skips)


def test_verbatim_roundtrip_mono():
    rng = np.random.default_rng(0)
    x = rng.integers(-20000, 20000, size=64)
    payload = _streaminfo(8000, 1, 16, 64) + _frame(
        64, 0, lambda w: _subframe_verbatim(w, x, 16))
    s, rate, bps = decode_flac_samples(payload)
    assert (rate, bps) == (8000, 16)
    assert s.shape == (64, 1)
    assert (s[:, 0] == x).all()


def test_constant_subframe():
    payload = _streaminfo(44100, 1, 16, 192) + _frame(
        192, 0, lambda w: _subframe_constant(w, -1234, 16))
    s, rate, _ = decode_flac_samples(payload)
    assert s.shape == (192, 1)
    assert (s == -1234).all()


@pytest.mark.parametrize("order", [1, 2, 3, 4])
def test_fixed_orders_roundtrip(order):
    t = np.arange(96)
    x = np.round(3000 * np.sin(2 * np.pi * 5 * t / 96)).astype(int)
    payload = _streaminfo(8000, 1, 16, 96) + _frame(
        96, 0, lambda w: _subframe_fixed(w, x, order, 16))
    s, _, _ = decode_flac_samples(payload)
    assert (s[:, 0] == x).all()


def test_fixed_with_partitions_and_escape():
    x = np.arange(-32, 32) * 7          # order-1 residuals constant 7
    payload = _streaminfo(8000, 1, 16, 64) + _frame(
        64, 0, lambda w: _subframe_fixed(w, x, 1, 16, po=2))
    s, _, _ = decode_flac_samples(payload)
    assert (s[:, 0] == x).all()
    payload = _streaminfo(8000, 1, 16, 64) + _frame(
        64, 0, lambda w: _subframe_fixed(w, x, 1, 16, escape_raw=8))
    s, _, _ = decode_flac_samples(payload)
    assert (s[:, 0] == x).all()


def test_lpc_roundtrip():
    rng = np.random.default_rng(1)
    x = np.cumsum(rng.integers(-50, 50, size=128))
    coefs, shift = [1843, -820], 10     # a plausible AR(2) in Q10
    payload = _streaminfo(16000, 1, 16, 128) + _frame(
        128, 0, lambda w: _subframe_lpc(w, x, coefs, shift, 16))
    s, _, _ = decode_flac_samples(payload)
    assert (s[:, 0] == x).all()


def test_mid_side_stereo_roundtrip():
    rng = np.random.default_rng(2)
    left = rng.integers(-10000, 10000, size=48)
    right = rng.integers(-10000, 10000, size=48)
    mid = (left + right) >> 1
    side = left - right

    def build(w):
        _subframe_verbatim(w, mid, 16)
        _subframe_verbatim(w, side, 17)   # difference: one extra bit

    payload = _streaminfo(8000, 2, 16, 48) + _frame(48, 10, build)
    s, _, _ = decode_flac_samples(payload)
    assert (s[:, 0] == left).all() and (s[:, 1] == right).all()


def test_left_side_and_right_side():
    left = np.array([100, -200, 300, -400] * 4)
    right = np.array([90, -150, 280, -380] * 4)
    side = left - right

    def build_ls(w):
        _subframe_verbatim(w, left, 16)
        _subframe_verbatim(w, side, 17)

    payload = _streaminfo(8000, 2, 16, 16) + _frame(16, 8, build_ls)
    s, _, _ = decode_flac_samples(payload)
    assert (s[:, 0] == left).all() and (s[:, 1] == right).all()

    def build_rs(w):
        _subframe_verbatim(w, side, 17)
        _subframe_verbatim(w, right, 16)

    payload = _streaminfo(8000, 2, 16, 16) + _frame(16, 9, build_rs)
    s, _, _ = decode_flac_samples(payload)
    assert (s[:, 0] == left).all() and (s[:, 1] == right).all()


def test_multi_frame_concatenation():
    a = np.arange(32) * 10
    b = np.arange(32) * -5
    payload = (_streaminfo(8000, 1, 16, 64)
               + _frame(32, 0, lambda w: _subframe_verbatim(w, a, 16),
                        frame_no=0)
               + _frame(32, 0, lambda w: _subframe_verbatim(w, b, 16),
                        frame_no=1))
    s, _, _ = decode_flac_samples(payload)
    assert s.shape == (64, 1)
    assert (s[:32, 0] == a).all() and (s[32:, 0] == b).all()


def test_wasted_bits_shift():
    x = np.arange(16) * 8               # all divisible by 2^3

    def build(w):
        w.write(0, 1)
        w.write(1, 6)                   # verbatim
        w.write(1, 1)                   # wasted-bits flag
        w.write_unary(2)                # unary 2 -> wasted = 3
        for s in x:
            w.write_signed(int(s) >> 3, 16 - 3)

    payload = _streaminfo(8000, 1, 16, 16) + _frame(16, 0, build)
    s, _, _ = decode_flac_samples(payload)
    assert (s[:, 0] == x).all()


def test_corruption_raises_valueerror():
    x = np.arange(32)
    good = _streaminfo(8000, 1, 16, 32) + _frame(
        32, 0, lambda w: _subframe_verbatim(w, x, 16))
    # header CRC-8 flip
    bad = bytearray(good)
    crc_at = len(_streaminfo(8000, 1, 16, 32)) + 5
    bad[crc_at] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_flac_samples(bytes(bad))
    # sync destroyed
    bad = bytearray(good)
    bad[len(_streaminfo(8000, 1, 16, 32))] = 0x00
    with pytest.raises(ValueError, match="sync"):
        decode_flac_samples(bytes(bad))
    # truncated mid-frame
    with pytest.raises(ValueError):
        decode_flac_samples(good[:-10])
    # metadata-only: NotImplementedError (falls to the metadata tier)
    with pytest.raises(NotImplementedError, match="without audio"):
        decode_flac_samples(_streaminfo(8000, 1, 16, 32))
    # STREAMINFO duration still reads through decode_media
    meta = decode_media(_streaminfo(8000, 1, 16, 16000), "audio")
    assert meta["duration_ms"] == 2000


def test_extract_audio_features_flac_decoded_tier(spark):
    from big_data_crypto_sentiment_spark.schemas import MEDIA_SCHEMA
    t = np.arange(8000)
    sine = np.round(16384 * np.sin(2 * np.pi * 440 * t / 8000)) \
        .astype(int)
    frames = []
    for i in range(0, 8000, 400):
        blk = sine[i:i + 400]
        frames.append(_frame(
            400, 0,
            lambda w, blk=blk: _subframe_fixed(w, blk, 2, 16, k=6),
            frame_no=i // 400))
    payload = _streaminfo(8000, 1, 16, 8000) + b"".join(frames)
    s, rate, bps = decode_flac_samples(payload)
    assert (s[:, 0] == sine).all()

    rows = [(1, "audio", payload, "audio/flac", None, None, None)]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = extract_audio_features(df).collect()[0]
    assert out.audio_status == "decoded"
    assert (out.sample_rate, out.channels, out.n_frames) == (8000, 1,
                                                             8000)
    assert out.duration_ms == 1000
    # sine at A=0.5 full scale: rms = A/sqrt(2), zcr = 2f/rate
    assert out.rms == pytest.approx(0.5 / np.sqrt(2), abs=2e-3)
    assert out.zero_crossing_rate == pytest.approx(2 * 440 / 8000,
                                                   abs=2e-3)
