"""Batch sinks, multimodal plumbing, and simulated generators."""

import glob
import json

import pytest
from pyspark.sql import functions as F

from big_data_crypto_sentiment_spark.operators.multimodal import (
    decode_media,
    extract_media_features,
    fake_decode,
    sample_frames,
)
from big_data_crypto_sentiment_spark.schemas import MEDIA_SCHEMA
from big_data_crypto_sentiment_spark.sinks import bulk_jsonl, write_warehouse
from big_data_crypto_sentiment_spark.sources.generators import (
    PRICE_BASES,
    simulated_prices,
    simulated_ta,
)


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (1, "image", b"\x89PNG\r\nfakepayload", "image/png", None, None, None),
        (2, "audio", b"RIFFfakewav", "audio/wav", None, None, 4000),
        (3, "video", b"\x00\x00\x00 ftypmp4", "video/mp4", None, None, 60000),
        (4, "image", b"", "image/png", None, None, None),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_warehouse_partitioned_write_prunes(spark, tmp_path):
    ev = (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
          .select("o_orderkey", "o_orderdate", "o_totalprice"))
    out = str(tmp_path / "wh")
    write_warehouse(ev, out, date_col="o_orderdate")
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    one_day = back.filter(F.col("date") == "1995-01-01")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan  # date partition actually prunes


def test_bucketed_join_has_no_exchange(spark):
    """Two tables bucketed on the same key join with zero shuffles —
    the co-located-join layout for hot keys at scale."""
    from big_data_crypto_sentiment_spark.sinks import write_bucketed
    ev = (spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
          .select("o_orderkey", "o_custkey", "o_totalprice"))
    cust = (spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
            .select("c_custkey", "c_name"))
    write_bucketed(ev, "b_orders", ("o_custkey",), n_buckets=8)
    write_bucketed(cust.withColumnRenamed("c_custkey", "o_custkey"),
                   "b_cust", ("o_custkey",), n_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(spark.table("b_cust"),
                                              "o_custkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # sort-merge join rides the bucket layout: no shuffle of any kind
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
        assert joined.count() == ev.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bulk_jsonl_chunks_and_counts(spark, tmp_path):
    df = spark.range(2500).select(F.col("id"),
                                  (F.col("id") * 2).alias("v"))
    out = str(tmp_path / "docs")
    bulk_jsonl(df.repartition(3), out)
    files = glob.glob(f"{out}/part-*.jsonl")
    assert len(files) == 3
    n = sum(1 for p in files for _ in open(p))
    assert n == 2500
    with open(files[0]) as f:
        doc = json.loads(next(f))
    assert set(doc) == {"id", "v"}


def test_media_features_deterministic_and_stubbed(media_df):
    out = {r.media_id: r for r in extract_media_features(media_df).collect()}
    assert out[1].magic == "89504e47"          # PNG magic survives
    assert out[4].n_bytes == 0
    w, h = fake_decode(b"\x89PNG\r\nfakepayload")
    assert (out[1].decoded_width, out[1].decoded_height) == (w, h)
    assert all(r.decode_status == "fake" for r in out.values())
    # real-codec path reports stubbed, never crashes
    stubbed = {r.media_id: r for r in
               extract_media_features(media_df, use_real_codec=True).collect()}
    assert all(r.decode_status == "stubbed" for r in stubbed.values())


def test_decode_media_is_explicitly_unimplemented():
    # formats whose metadata needs an entropy decoder stay stubbed
    with pytest.raises(NotImplementedError):
        decode_media(b"xx", "image")


def _png(w, h):
    import struct
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00")


def _wav(byte_rate, data_size):
    import struct
    fmt = struct.pack("<HHIIHH", 1, 2, 44100, byte_rate, 4, 16)
    return (b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", data_size))


def test_decode_media_parses_real_container_headers(spark):
    """Fixed-offset header parsing against spec-built real bytes:
    PNG IHDR, GIF logical screen, BMP info header (incl. top-down
    negative height), WAV fmt/data chunk walk — all through the full
    mapInPandas path with use_real_codec=True."""
    import struct
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 5
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 800, -600)
    rows = [
        (1, "image", _png(640, 480), "image/png", None, None, None),
        (2, "image", gif, "image/gif", None, None, None),
        (3, "image", bmp, "image/bmp", None, None, None),
        (4, "audio", _wav(176400, 352800), "audio/wav", None, None, None),
        (5, "image", b"\x89PNG\r\n\x1a\n\x00\x00", "image/png",
         None, None, None),                              # truncated PNG
        (6, "video", b"\x00\x00\x00 ftypmp4", "video/mp4",
         None, None, 60000),                             # no mp4 parser
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r for r in
           extract_media_features(df, use_real_codec=True).collect()}
    assert (out[1].decoded_width, out[1].decoded_height) == (640, 480)
    assert (out[2].decoded_width, out[2].decoded_height) == (320, 200)
    assert (out[3].decoded_width, out[3].decoded_height) == (800, 600)
    assert out[4].decoded_duration_ms == 2000  # 352800 B / 176400 B/s
    assert (out[4].decoded_width, out[4].decoded_height) == (None, None)
    assert all(out[i].decode_status == "decoded" for i in (1, 2, 3, 4))
    assert out[5].decode_status == "corrupt"
    assert out[6].decode_status == "stubbed"  # honest fallback survives


def _jpeg(w, h):
    import struct
    # SOI, APP0 (JFIF stub), DQT (skipped by length), SOF0, EOI
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" * 65
    sof = (b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
           + struct.pack(">HH", h, w) + b"\x01\x11\x00")
    return b"\xff\xd8" + app0 + dqt + sof + b"\xff\xd9"


def _mp4(timescale, duration, w, h):
    import struct

    def box(btype, body):
        return struct.pack(">I", 8 + len(body)) + btype + body

    mvhd = box(b"mvhd", b"\x00\x00\x00\x00" + b"\x00" * 8
               + struct.pack(">II", timescale, duration) + b"\x00" * 80)
    # v0 tkhd body: fullbox(4) + cre/mod/id/res/dur(20) + res(8)
    # + layer/alt/vol/res(8) + matrix(36) = 76, then width/height
    tkhd = box(b"tkhd", b"\x00\x00\x00\x07" + b"\x00" * 72
               + struct.pack(">II", w << 16, h << 16))
    moov = box(b"moov", mvhd + box(b"trak", tkhd))
    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    return ftyp + moov


def test_decode_media_jpeg_sof_walk_and_mp4_box_walk():
    """JPEG SOF and ISO-BMFF box parsing on spec-built bytes — pure
    structure walks, never touching entropy-coded payload."""
    import pytest as _pytest
    from big_data_crypto_sentiment_spark.operators.multimodal import (
        decode_media,
    )
    m = decode_media(_jpeg(1024, 768), "image")
    assert (m["width"], m["height"]) == (1024, 768)
    m = decode_media(_mp4(1000, 90_500, 1920, 1080), "video")
    assert m["duration_ms"] == 90_500 and (m["width"], m["height"]) \
        == (1920, 1080)
    # marker desync inside a recognized JPEG -> corrupt, not fake
    with _pytest.raises(ValueError):
        decode_media(b"\xff\xd8\x00\x00\x00\x00", "image")
    # truncated ftyp-only MP4 (no moov) -> corrupt
    with _pytest.raises(ValueError):
        decode_media(_mp4(1000, 1, 1, 1)[:16], "video")


def test_mp4_audio_track_does_not_clobber_video_dimensions():
    """Multi-track file with the audio track's 0x0 tkhd AFTER the
    video track: the first nonzero dimensions win."""
    import struct

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        decode_media,
    )

    def box(btype, body):
        return struct.pack(">I", 8 + len(body)) + btype + body

    mvhd = box(b"mvhd", b"\x00\x00\x00\x00" + b"\x00" * 8
               + struct.pack(">II", 1000, 5000) + b"\x00" * 80)

    def tkhd(w, h):
        return box(b"tkhd", b"\x00\x00\x00\x07" + b"\x00" * 72
                   + struct.pack(">II", w << 16, h << 16))

    moov = box(b"moov", mvhd + box(b"trak", tkhd(640, 480))
               + box(b"trak", tkhd(0, 0)))
    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    m = decode_media(ftyp + moov, "video")
    assert (m["width"], m["height"]) == (640, 480)
    # audio-first ordering also resolves to the video track
    moov2 = box(b"moov", mvhd + box(b"trak", tkhd(0, 0))
                + box(b"trak", tkhd(640, 480)))
    m2 = decode_media(ftyp + moov2, "video")
    assert (m2["width"], m2["height"]) == (640, 480)


def _webp(chunks):
    import struct
    body = b"WEBP" + b"".join(
        cid + struct.pack("<I", len(d)) + d + (b"\x00" if len(d) & 1
                                               else b"")
        for cid, d in chunks)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _vp8(w, h):
    """VP8 lossy keyframe: 3-byte frame tag, start code, 14-bit dims."""
    import struct
    return (b"\x00\x00\x00" + b"\x9d\x01\x2a"
            + struct.pack("<HH", w, h) + b"\x00" * 4)


def _vp8l(w, h):
    """VP8L lossless: signature + packed dims-1."""
    import struct
    return b"\x2f" + struct.pack("<I", ((w - 1) & 0x3FFF)
                                 | (((h - 1) & 0x3FFF) << 14))


def _vp8x(w, h):
    """VP8X extended: flags, then 24-bit canvas dims-1."""
    return (b"\x00\x00\x00\x00"
            + (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little"))


def test_webp_header_dimensions_all_three_forms():
    m = decode_media(_webp([(b"VP8 ", _vp8(320, 240))]), "image")
    assert (m["width"], m["height"]) == (320, 240)
    m = decode_media(_webp([(b"VP8L", _vp8l(640, 480))]), "image")
    assert (m["width"], m["height"]) == (640, 480)
    m = decode_media(_webp([(b"VP8X", _vp8x(100, 50))]), "image")
    assert (m["width"], m["height"]) == (100, 50)
    # corrupt: missing start code
    with pytest.raises(ValueError):
        decode_media(_webp([(b"VP8 ", b"\x00" * 10)]), "image")


def _tiff(bo, entries):
    """One-IFD TIFF header: (tag, type, value) entries, SHORT (3) or
    LONG (4) values inline, no strip data."""
    import struct
    e = "<" if bo == "II" else ">"
    head = (b"II*\x00" if bo == "II" else b"MM\x00*") \
        + struct.pack(e + "I", 8)
    body = struct.pack(e + "H", len(entries))
    for tag, typ, val in entries:
        v = struct.pack(e + "HH", val, 0) if typ == 3 \
            else struct.pack(e + "I", val)
        body += struct.pack(e + "HHI", tag, typ, 1) + v
    return head + body + struct.pack(e + "I", 0)


def test_tiff_header_dimensions_both_orders_and_types():
    for bo in ("II", "MM"):
        m = decode_media(_tiff(bo, [(256, 3, 800), (257, 3, 600)]),
                         "image")
        assert (m["width"], m["height"]) == (800, 600)
        m = decode_media(_tiff(bo, [(256, 4, 70000), (257, 4, 2)]),
                         "image")
        assert (m["width"], m["height"]) == (70000, 2)
    with pytest.raises(ValueError):
        decode_media(_tiff("II", [(256, 3, 8)]), "image")  # no length


def test_flac_streaminfo_duration():
    def flac(sr, total):
        u64 = (sr << 44) | (1 << 41) | (15 << 36) | total
        body = (b"\x00" * 10 + u64.to_bytes(8, "big") + b"\x00" * 16)
        return b"fLaC" + b"\x80" + (34).to_bytes(3, "big") + body

    m = decode_media(flac(44100, 44100 * 7), "audio")
    assert m["duration_ms"] == 7000 and m["width"] is None
    # unknown length (total_samples = 0): valid container, None duration
    assert decode_media(flac(48000, 0), "audio")["duration_ms"] is None
    with pytest.raises(ValueError):
        decode_media(flac(0, 1000), "audio")       # zero sample rate
    with pytest.raises(ValueError):
        decode_media(b"fLaC\x80" + b"\x00" * 10, "audio")  # truncated


def test_frame_sampling_offsets(media_df):
    rows = sample_frames(media_df, n_frames=4).collect()
    assert len(rows) == 1
    assert rows[0].frame_offsets_ms == [0, 15000, 30000, 45000]


def test_simulated_prices_bounded_and_deterministic(spark):
    a = simulated_prices(spark, 400).toPandas()
    b = simulated_prices(spark, 400).toPandas()
    assert a.equals(b)  # same seed → identical
    for sym, base in PRICE_BASES.items():
        vals = a[a["symbol"] == sym]["price"]
        assert ((vals >= base * 0.95) & (vals <= base * 1.05)).all()


def test_simulated_ta_rsi_clamped(spark):
    pdf = simulated_ta(spark, 400).toPandas()
    assert ((pdf["rsi"] >= 0.0) & (pdf["rsi"] <= 100.0)).all()
    assert (pdf["rsi"] == 0.0).any() or (pdf["rsi"] == 100.0).any()


def test_compact_parquet_collapses_small_files(spark, tmp_path):
    from big_data_crypto_sentiment_spark.sinks import compact_parquet

    path = str(tmp_path / "frag")
    # 20 tiny appends -> >=20 fragment files
    for i in range(20):
        spark.range(i * 10, (i + 1) * 10).coalesce(1) \
             .write.mode("append").parquet(path)
    import os
    frags = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(frags) >= 20
    before = sorted(r.id for r in spark.read.parquet(path).collect())

    n = compact_parquet(spark, path, target_bytes=1 << 30)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert n == 1 and len(files) == 1          # tiny data -> one file
    after = sorted(r.id for r in spark.read.parquet(path).collect())
    assert after == before == list(range(200))  # nothing lost or doubled


def test_resize_images_fake_dims_and_stub_payload(media_df):
    import hashlib
    import struct

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        RESIZE_STUB_MAGIC,
        resize_images,
    )
    out = {r.media_id: r for r in resize_images(media_df).collect()}
    assert set(out) == {1, 4}                  # images only
    for payload, r in ((b"\x89PNG\r\nfakepayload", out[1]), (b"", out[4])):
        w, h = fake_decode(payload)
        assert (r.src_width, r.src_height) == (w, h)
        m = max(w, h)
        if m > 224:
            assert (r.width, r.height) == (max(1, w * 224 // m),
                                           max(1, h * 224 // m))
            assert r.resized
        else:
            assert (r.width, r.height) == (w, h) and not r.resized
        assert bytes(r.payload) == (RESIZE_STUB_MAGIC
                                    + struct.pack(">II", r.width, r.height)
                                    + hashlib.sha256(payload).digest())
        assert r.resize_status == "fake-dims"
    # deterministic across runs/partitionings
    again = {r.media_id: bytes(r.payload)
             for r in resize_images(media_df.repartition(4)).collect()}
    assert again == {k: bytes(v.payload) for k, v in out.items()}


def _bmp24(top, bottom):
    """2x2 24-bit BMP: rows stored bottom-up, BGR, padded to 4 bytes."""
    import struct

    def row(px):
        return b"".join(bytes((b, g, r)) for (r, g, b) in px) + b"\x00\x00"
    pixel_data = row(bottom) + row(top)
    return (b"BM" + struct.pack("<IHHI", 54 + len(pixel_data), 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0,
                          len(pixel_data), 2835, 2835, 0, 0)
            + pixel_data)


def test_resize_images_real_codec_math(spark):
    """Only GIF pixel-decodes: every other image container takes the
    decoded-dims tier — real header dims, target math, RSZ1 marker
    payload — even when the payload is a complete, valid image."""
    import hashlib
    import struct

    import numpy as np

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        RESIZE_STUB_MAGIC,
        encode_png,
        resize_images,
    )
    gif = _gif(4, 4, [0, 1, 2, 3] * 4, PALETTE)
    payloads = {
        1: _png(640, 480),
        2: _png(100, 50),
        3: _png(2000, 1),
        4: encode_png(np.full((4, 6, 3), 7, dtype=np.uint8)),
        5: _bmp24([(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (1, 2, 3)]),
        6: _jpeg(1024, 768),
        7: _tiff("MM", [(256, 4, 640), (257, 4, 480)]),
        8: _webp([(b"VP8 ", _vp8(320, 240))]),
        9: _webp([(b"VP8L", _vp8l(640, 480))]),
        10: _webp([(b"VP8X", _vp8x(100, 50))]),
        11: gif,
    }
    df = spark.createDataFrame(
        [(i, "image", p, None, None, None, None)
         for i, p in payloads.items()], MEDIA_SCHEMA)
    out = {r.media_id: r for r in
           resize_images(df, use_real_codec=True).collect()}
    want = {  # id: (src w, src h, target w, target h)
        1: (640, 480, 224, 168),                # 640x480 scaled
        2: (100, 50, 100, 50),                  # never upscale
        3: (2000, 1, 224, 1),                   # floor at 1
        4: (6, 4, 6, 4),
        5: (2, 2, 2, 2),
        6: (1024, 768, 224, 168),
        7: (640, 480, 224, 168),
        8: (320, 240, 224, 168),
        9: (640, 480, 224, 168),
        10: (100, 50, 100, 50),
    }
    for i, (sw, sh, tw, th) in want.items():
        r = out[i]
        assert r.resize_status == "decoded-dims", i
        assert (r.src_width, r.src_height, r.width, r.height) \
            == (sw, sh, tw, th), i
        assert r.resized == ((tw, th) != (sw, sh)), i
        assert bytes(r.payload) == (RESIZE_STUB_MAGIC
                                    + struct.pack(">II", tw, th)
                                    + hashlib.sha256(payloads[i])
                                    .digest()), i
    # a GIF still pixel-decodes: it fits, so it rides through untouched
    assert out[11].resize_status == "passthrough"
    assert bytes(out[11].payload) == gif


def test_resize_images_dimensionless_decode_falls_back(spark):
    # a container can decode WITHOUT dimensions (a WAV mislabeled as
    # image): the real-codec path must fall back to fake dims instead
    # of max(None, None)
    from big_data_crypto_sentiment_spark.operators.multimodal import (
        resize_images,
    )
    wav = _wav(176400, 352800)
    df = spark.createDataFrame(
        [(1, "image", wav, "audio/wav", None, None, None)], MEDIA_SCHEMA)
    (r,) = resize_images(df, use_real_codec=True).collect()
    fw, fh = fake_decode(wav)
    assert (r.src_width, r.src_height) == (fw, fh)
    assert r.resize_status == "fake-dims"


def _read_png(payload):
    """Test-side reader for encode_png's output: signature, every
    chunk CRC, IHDR, the inflated IDAT stream with each row's filter
    byte 0 (encode_png writes no other filter)."""
    import struct
    import zlib

    import numpy as np

    assert payload[:8] == b"\x89PNG\r\n\x1a\n"
    pos, idat = 8, b""
    while pos < len(payload):
        n, ctype = struct.unpack(">I4s", payload[pos:pos + 8])
        data = payload[pos + 8:pos + 8 + n]
        (crc,) = struct.unpack(">I", payload[pos + 8 + n:pos + 12 + n])
        assert crc == zlib.crc32(ctype + data)
        if ctype == b"IHDR":
            w, h, depth, colour = struct.unpack(">IIBB", data[:10])
        elif ctype == b"IDAT":
            idat += data
        pos += 12 + n
    assert depth == 8
    ch = {0: 1, 4: 2, 2: 3, 6: 4}[colour]
    rows = np.frombuffer(zlib.decompress(idat), np.uint8) \
        .reshape(h, 1 + w * ch)
    assert (rows[:, 0] == 0).all()
    return rows[:, 1:].reshape(h, w, ch)


def test_png_encode_decode_roundtrip_bit_exact():
    import numpy as np

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        encode_png,
    )
    for ch in (1, 2, 3, 4):
        rng = np.arange(4 * 5 * ch, dtype=np.int64)
        img = ((rng * 97 + 3) % 256).astype(np.uint8).reshape(4, 5, ch)
        back = _read_png(encode_png(img))
        assert back.shape == img.shape and (back == img).all()


def test_area_resample_closed_form_values():
    import numpy as np

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        area_resample,
    )
    # 2x2 checkerboard -> 1x1: exact mean 127.5, half-up -> 128
    board = np.array([[[0], [255]], [[255], [0]]], dtype=np.uint8)
    assert area_resample(board, 1, 1)[0, 0, 0] == 128
    # 4x4 quadrants -> 2x2: each output IS its quadrant mean, exactly
    q = np.zeros((4, 4, 1), dtype=np.uint8)
    q[:2, :2], q[:2, 2:], q[2:, :2], q[2:, 2:] = 10, 20, 30, 40
    out = area_resample(q, 2, 2)
    assert [[out[0,0,0], out[0,1,0]], [out[1,0,0], out[1,1,0]]] \
        == [[10, 20], [30, 40]]
    # non-integer ratio 3 -> 2: cell 0 covers [0, 1.5) so its value is
    # (x0 + 0.5*x1) / 1.5 — pin one fractional-coverage case end to end
    tri = np.array([[[0], [90], [240]]], dtype=np.uint8)
    out = area_resample(tri, 2, 1)
    assert out[0, 0, 0] == 30      # (0 + 45) / 1.5
    assert out[0, 1, 0] == 190     # (45 + 240) / 1.5


# --- r11 stretch: real GIF pixel decode (LZW) ------------------------


def _lzw_encode(indices, mcs):
    """Spec-forward GIF LZW encoder, written independently of the
    decoder: dictionary of index strings, clear code first, variable
    code width LSB-first."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    table = {(i,): i for i in range(1 << mcs)}
    next_code, width = end + 1, mcs + 1
    codes = [(clear, width)]
    buf = ()
    for sym in indices:
        cand = buf + (sym,)
        if cand in table:
            buf = cand
            continue
        codes.append((table[buf], width))
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            # the decoder's insertions lag the encoder's by one code
            # (it can only insert after READING the next code), so the
            # encoder grows the width one table entry LATER than the
            # decoder's next_code == 2^width rule
            width += 1
        buf = (sym,)
    if buf:
        codes.append((table[buf], width))
    codes.append((end, width))
    out, acc, nacc = bytearray(), 0, 0
    for code, w in codes:
        acc |= code << nacc
        nacc += w
        while nacc >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nacc -= 8
    if nacc:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif(w, h, indices, palette, interlace=False, mcs=2):
    import struct
    gct_bits = 1  # 4-entry global color table
    pal = bytearray()
    for r, g, b in palette:
        pal += bytes((r, g, b))
    while len(pal) < 3 * (2 << gct_bits):
        pal += b"\x00\x00\x00"
    lzw = _lzw_encode(indices, mcs)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        part = lzw[i:i + 255]
        blocks += bytes((len(part),)) + part
    return (b"GIF89a" + struct.pack("<HH", w, h)
            + bytes((0x80 | gct_bits, 0, 0)) + bytes(pal)
            + b"\x2C" + struct.pack("<HHHH", 0, 0, w, h)
            + bytes((0x40 if interlace else 0,))
            + bytes((mcs,)) + bytes(blocks) + b"\x00" + b"\x3B")


PALETTE = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 8, 7)]


def test_gif_pixel_decode_lzw_and_palette():
    import numpy as np

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        decode_gif_pixels,
    )
    # 4x3 image with repetition so LZW actually builds dictionary
    # entries (and one KwKwK-triggering run of equal symbols)
    idx = [0, 1, 2, 3,
           0, 1, 2, 3,
           2, 2, 2, 2]
    img = decode_gif_pixels(_gif(4, 3, idx, PALETTE))
    assert img.shape == (3, 4, 3)
    want = np.array([[PALETTE[i] for i in idx[r*4:(r+1)*4]]
                     for r in range(3)], dtype=np.uint8)
    assert (img == want).all()


def test_gif_interlaced_rows_are_reordered():
    import numpy as np

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        decode_gif_pixels,
    )
    h = 10
    # one color per DISPLAY row; stored order is the 4-pass schedule
    display_rows = list(range(0, h, 8)) + list(range(4, h, 8)) \
        + list(range(2, h, 4)) + list(range(1, h, 2))
    idx = []
    for dr in display_rows:
        idx += [dr % 4, dr % 4]          # 2-wide rows
    img = decode_gif_pixels(_gif(2, h, idx, PALETTE, interlace=True))
    for r in range(h):
        assert tuple(img[r, 0]) == PALETTE[r % 4], r


def test_gif_corruption_and_resize_tiering():
    import pytest as _pytest

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        decode_gif_pixels,
    )
    good = _gif(4, 3, [0] * 12, PALETTE)
    with _pytest.raises(ValueError):       # truncated LZW stream
        decode_gif_pixels(good[:-6])
    # no color table -> NotImplementedError (header tier)
    import struct
    no_ct = (b"GIF89a" + struct.pack("<HH", 2, 2) + bytes((0, 0, 0))
             + b"\x2C" + struct.pack("<HHHH", 0, 0, 2, 2) + b"\x00"
             + b"\x02\x01\x44\x00\x3B")
    with _pytest.raises(NotImplementedError):
        decode_gif_pixels(no_ct)


def test_resize_images_resamples_real_gif(spark):
    from big_data_crypto_sentiment_spark.operators.multimodal import (
        resize_images,
    )
    # 4x4 quadrants via palette indices -> 2x2 exact quadrant colors
    idx = [0, 0, 1, 1,
           0, 0, 1, 1,
           2, 2, 3, 3,
           2, 2, 3, 3]
    gif = _gif(4, 4, idx, PALETTE)
    df = spark.createDataFrame(
        [(1, "image", gif, "image/gif", None, None, None)], MEDIA_SCHEMA)
    (r,) = resize_images(df, max_dim=2, use_real_codec=True).collect()
    assert r.resize_status == "resampled"
    back = _read_png(bytes(r.payload))
    assert back.shape == (2, 2, 3)
    assert tuple(back[0, 0]) == PALETTE[0]
    assert tuple(back[0, 1]) == PALETTE[1]
    assert tuple(back[1, 0]) == PALETTE[2]
    assert tuple(back[1, 1]) == PALETTE[3]


def test_pixel_decoders_reject_adversarial_headers():
    """Untrusted bytes inside an executor: absurd claimed dimensions
    must raise (falling to the marker-stub tier), never allocate
    attacker-chosen memory."""
    import struct

    import pytest as _pytest

    from big_data_crypto_sentiment_spark.operators.multimodal import (
        decode_gif_pixels,
    )

    # GIF claiming huge image-descriptor dims
    g = bytearray(_gif(4, 3, [0] * 12, PALETTE))
    desc = g.index(0x2C)
    g[desc + 5:desc + 9] = struct.pack("<HH", 60000, 60000)
    with _pytest.raises(ValueError):
        decode_gif_pixels(bytes(g))
