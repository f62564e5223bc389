"""Pins for the WAV codings beyond plain PCM: G.711 mu-law / A-law
expansion against the standard's known code points, and IMA / MS
ADPCM block decode against independent test-side encoders.
"""

import struct

import numpy as np
import pytest

from big_data_crypto_sentiment_spark.operators.multimodal import (
    decode_wav_samples,
)


# --- G.711 -------------------------------------------------------
def _wav_g711(codes: bytes, tag: int, rate=8000, ch=1) -> bytes:
    fmt = struct.pack("<HHIIHH", tag, ch, rate, rate * ch, ch, 8)
    return (b"RIFF" + struct.pack("<I", 28 + 8 + len(codes)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(codes)) + codes)


def test_mulaw_known_code_points():
    s, rate = decode_wav_samples(_wav_g711(bytes([0x00, 0xFF, 0x7F]),
                                           tag=7))
    assert rate == 8000
    # G.711 mu-law: 0x00 is the negative extreme, 0xFF/0x7F are zero
    assert s[:, 0].tolist() == [-32124, 0, 0]


def test_alaw_known_code_points():
    s, _ = decode_wav_samples(_wav_g711(bytes([0x55, 0xD5, 0x2A]),
                                        tag=6))
    # A-law: 0x55 -> -8, 0xD5 -> +8, 0x2A -> the negative extreme
    assert s[0, 0] == -8 and s[1, 0] == 8
    assert s[2, 0] == -32256


def test_g711_mulaw_alaw_symmetry_and_range():
    s_mu, _ = decode_wav_samples(_wav_g711(bytes(range(256)), tag=7))
    s_a, _ = decode_wav_samples(_wav_g711(bytes(range(256)), tag=6))
    for s in (s_mu[:, 0], s_a[:, 0]):
        v = s.astype(np.int64)
        assert int(np.abs(v).max()) <= 32256
        # each code's complement-sign twin decodes to the negation
    mu = s_mu[:, 0].astype(np.int64)
    assert all(mu[c] == -mu[c ^ 0x80] for c in range(256))
    al = s_a[:, 0].astype(np.int64)
    assert all(al[c] == -al[c ^ 0x80] for c in range(256))


def test_g711_stereo_shapes_and_features_scale():
    codes = bytes([0x00, 0xFF] * 10)          # L extreme, R silence
    s, _ = decode_wav_samples(_wav_g711(codes, tag=7, ch=2))
    assert s.shape == (10, 2)
    assert (s[:, 0] == -32124).all() and (s[:, 1] == 0).all()


# --- IMA ADPCM ----------------------------------------------------
_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767)
_ADJ = (-1, -1, -1, -1, 2, 4, 6, 8)


def _ima_encode_mono(samples, block_align=256):
    """Canonical IMA ADPCM compressor (test-side reference): 4-byte
    block header (sample 0 + step index), then low-nibble-first
    4-bit codes."""
    out = bytearray()
    per_block = 1 + (block_align - 4) * 2
    i = 0
    idx = 0
    while i < len(samples):
        blk = samples[i:i + per_block]
        i += per_block
        pred = int(blk[0])
        out += struct.pack("<hBB", pred, idx, 0)
        nibs = []
        for s in blk[1:]:
            step = _STEPS[idx]
            diff = int(s) - pred
            nib = 0
            if diff < 0:
                nib = 8
                diff = -diff
            if diff >= step:
                nib |= 4
                diff -= step
            if diff >= step >> 1:
                nib |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                nib |= 1
            # decoder-mirror update
            d = step >> 3
            if nib & 1:
                d += step >> 2
            if nib & 2:
                d += step >> 1
            if nib & 4:
                d += step
            if nib & 8:
                d = -d
            pred = max(-32768, min(32767, pred + d))
            idx = max(0, min(88, idx + _ADJ[nib & 7]))
            nibs.append(nib)
        while len(nibs) < (block_align - 4) * 2:
            nibs.append(0)                     # pad the final block
        for j in range(0, len(nibs), 2):
            out.append(nibs[j] | (nibs[j + 1] << 4))
    return bytes(out)


def _wav_ima(data: bytes, block_align, rate=8000, ch=1) -> bytes:
    fmt = struct.pack("<HHIIHH", 0x11, ch, rate,
                      rate * block_align // 256, block_align, 4)
    return (b"RIFF" + struct.pack("<I", 28 + 8 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)


def test_ima_adpcm_tracks_a_sine():
    t = np.arange(505)
    sine = np.round(12000 * np.sin(2 * np.pi * 13 * t / 505)) \
        .astype(np.int16)
    data = _ima_encode_mono(sine, block_align=256)
    s, rate = decode_wav_samples(_wav_ima(data, 256))
    got = s[:len(sine), 0].astype(np.int64)
    # ADPCM is lossy with slope-overload during the startup ramp (the
    # step index climbs from 0 against a steep sine); once adapted
    # (~sample 50) the decoder tracks the encoder's own prediction and
    # error is bounded by the quantizer step
    err = np.abs(got - sine.astype(np.int64))
    assert int(err[50:].max()) <= 1024
    assert float(np.corrcoef(got, sine)[0, 1]) > 0.995


def test_ima_adpcm_exact_hand_block():
    # header: sample0 = 100, index 0 (step 7); nibbles 0x1 then 0x8
    # nib 1: diff = 7>>3 + 7>>2 = 0+1 -> pred 101, idx -1 -> 0
    # nib 8: diff = -(7>>3) = 0 -> pred 101
    blk = struct.pack("<hBB", 100, 0, 0) + bytes([0x81]) + bytes(3)
    s, _ = decode_wav_samples(_wav_ima(blk, 8))
    assert s[:3, 0].tolist() == [100, 101, 101]


def test_ima_adpcm_bad_index_is_corrupt():
    blk = struct.pack("<hBB", 0, 99, 0) + bytes(4)
    with pytest.raises(ValueError, match="step index"):
        decode_wav_samples(_wav_ima(blk, 8))


# --- MS-ADPCM ------------------------------------------------------
_MS_COEFS = ((256, 0), (512, -256), (0, 0), (192, 64), (240, 0),
             (460, -208), (392, -232))
_MS_ADAPT = (230, 230, 230, 230, 307, 409, 512, 614,
             768, 614, 512, 409, 307, 230, 230, 230)


def _ms_encode_mono(samples, block_align=256, pred=0,
                    init_delta=128):
    """Canonical MS-ADPCM compressor (test-side reference): per-block
    header (predictor, delta, s1, s2), then high-nibble-first codes,
    mirroring the decoder's exact update path."""
    out = bytearray()
    per_block = 2 + (block_align - 7) * 2
    i = 0
    while i < len(samples):
        blk = [int(v) for v in samples[i:i + per_block]]
        i += per_block
        while len(blk) < 2:
            blk.append(0)
        s2, s1 = blk[0], blk[1]
        delta = init_delta
        out += bytes([pred])
        out += struct.pack("<h", delta)
        out += struct.pack("<h", s1)
        out += struct.pack("<h", s2)
        nibs = []
        c1, c2 = _MS_COEFS[pred]
        for s in blk[2:]:
            p = (s1 * c1 + s2 * c2) >> 8
            err = s - p
            code = max(-8, min(7, int(round(err / delta))))
            nib = code + 16 if code < 0 else code
            samp = max(-32768, min(32767, p + code * delta))
            s2, s1 = s1, samp
            delta = max(16, (_MS_ADAPT[nib] * delta) >> 8)
            nibs.append(nib)
        while len(nibs) < (block_align - 7) * 2:
            nibs.append(0)
        for j in range(0, len(nibs), 2):
            out.append((nibs[j] << 4) | nibs[j + 1])
    return bytes(out)


def _wav_ms(data: bytes, block_align, rate=8000, ch=1) -> bytes:
    fmt = struct.pack("<HHIIHH", 2, ch, rate,
                      rate * block_align // 256, block_align, 4)
    return (b"RIFF" + struct.pack("<I", 28 + 8 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)


def test_ms_adpcm_tracks_a_sine():
    t = np.arange(500)
    sine = np.round(9000 * np.sin(2 * np.pi * 7 * t / 500)) \
        .astype(np.int16)
    data = _ms_encode_mono(sine, block_align=256)
    s, rate = decode_wav_samples(_wav_ms(data, 256))
    got = s[:len(sine), 0].astype(np.int64)
    err = np.abs(got - sine.astype(np.int64))
    # the decoder must track the encoder's own prediction chain; the
    # residual is bounded by the adaptive quantizer once settled
    assert int(err[20:].max()) <= 2048
    assert float(np.corrcoef(got, sine)[0, 1]) > 0.995


def test_ms_adpcm_exact_hand_block():
    # predictor 0 (c1=256, c2=0): pred = s1; warmup s2=10, s1=20.
    # nibble +1 -> 20 + 1*64 = 84, delta -> max(16, 230*64>>8)=57
    # nibble 15 (=-1) -> pred 84 -> 84 - 57 = 27
    blk = (bytes([0]) + struct.pack("<h", 64) + struct.pack("<h", 20)
           + struct.pack("<h", 10) + bytes([0x1F]))
    s, _ = decode_wav_samples(_wav_ms(blk, 8))
    assert s[:4, 0].tolist() == [10, 20, 84, 27]


def test_ms_adpcm_bad_predictor_is_corrupt():
    blk = bytes([9]) + bytes(7)
    with pytest.raises(ValueError, match="predictor"):
        decode_wav_samples(_wav_ms(blk, 8))
