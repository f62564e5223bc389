"""Pins for r11 ADVICE findings closed in r12.

1. (medium) zero-dimension images must never fail the Spark task: a
   GIF image descriptor claiming width 0 raises ValueError in the
   pixel decoder, and zero-width PNG/BMP headers land in
   resize_images' decoded-dims marker tier — previously a width=0,
   height>max_dim PNG decoded to shape (h, 0, 1) and crashed
   area_resample with an IndexError the resize tiering doesn't catch.
2. (low) _genstore.run_id_for_checkpoint must never return an empty
   run id: the marker is now published atomically WITH its content
   (temp-file + hard link), and a legacy empty marker is repaired.
"""

import os
import struct
import zlib

import pytest
from conftest import conf_gates

from big_data_crypto_sentiment_spark.jobs._genstore import (
    RUN_ID_FILE,
    run_id_for_checkpoint,
)
from big_data_crypto_sentiment_spark.operators.multimodal import (
    decode_gif_pixels,
)


def _png_chunk(ctype, data):
    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data)))


def _zero_width_png(h=300):
    """CRC-valid PNG claiming width=0 (spec-invalid) — the exact
    ADVICE repro shape: height over max_dim so the old decode produced
    (h, 0, 1) and area_resample raised IndexError."""
    return (b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 0, h, 8, 0,
                                              0, 0, 0))
            + _png_chunk(b"IDAT", zlib.compress(b"\x00" * h))
            + _png_chunk(b"IEND", b""))


def _zero_width_bmp(h=5):
    hdr = bytearray(54)
    hdr[0:2] = b"BM"
    hdr[10:14] = (54).to_bytes(4, "little")
    hdr[14:18] = (40).to_bytes(4, "little")
    hdr[18:22] = (0).to_bytes(4, "little", signed=True)   # width 0
    hdr[22:26] = h.to_bytes(4, "little", signed=True)
    hdr[26:28] = (1).to_bytes(2, "little")
    hdr[28:30] = (24).to_bytes(2, "little")
    return bytes(hdr)


def test_zero_dimension_images_raise_valueerror():
    # a GIF image descriptor claiming 0xN
    from tests.test_sinks_multimodal import _gif, PALETTE
    g = bytearray(_gif(4, 3, [0] * 12, PALETTE))
    desc = g.index(0x2C)
    g[desc + 5:desc + 9] = struct.pack("<HH", 0, 3)
    with pytest.raises(ValueError):
        decode_gif_pixels(bytes(g))


def test_zero_width_png_falls_to_decoded_dims_tier_not_task_failure(
        spark):
    """End-to-end through resize_images(use_real_codec=True): one
    adversarial zero-width row must land in the decoded-dims marker
    tier, never fail the Spark task (the ADVICE reproduction)."""
    from big_data_crypto_sentiment_spark.operators.multimodal import (
        RESIZE_STUB_MAGIC,
        resize_images,
    )
    from big_data_crypto_sentiment_spark.schemas import MEDIA_SCHEMA
    rows = [(1, "image", _zero_width_png(), "image/png", None, None,
             None),
            (2, "image", _zero_width_bmp(), "image/bmp", None, None,
             None)]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r
           for r in resize_images(df, use_real_codec=True).collect()}
    assert out[1].resize_status == "decoded-dims"
    assert out[2].resize_status == "decoded-dims"
    assert (out[1].src_width, out[1].src_height) == (0, 300)
    assert bytes(out[1].payload).startswith(RESIZE_STUB_MAGIC)


def test_run_id_never_empty_and_marker_atomic(tmp_path):
    cp = str(tmp_path / "cp")
    rid = run_id_for_checkpoint(cp)
    assert rid and rid == run_id_for_checkpoint(cp)
    # marker content is complete the moment the file exists
    with open(os.path.join(cp, RUN_ID_FILE)) as f:
        assert f.read().strip() == rid
    # no temp droppings left behind
    assert [p for p in os.listdir(cp)
            if p.startswith(RUN_ID_FILE)] == [RUN_ID_FILE]

    # legacy crash remnant: marker exists but is EMPTY (the retired
    # open('x')-then-write scheme's window) — must be repaired to a
    # fresh non-empty id, not returned as "" (gen keys 'gen_b_-0')
    cp2 = str(tmp_path / "cp2")
    os.makedirs(cp2)
    open(os.path.join(cp2, RUN_ID_FILE), "w").close()
    rid2 = run_id_for_checkpoint(cp2)
    assert rid2
    assert rid2 == run_id_for_checkpoint(cp2)
    with open(os.path.join(cp2, RUN_ID_FILE)) as f:
        assert f.read().strip() == rid2


def test_frozen_pca_basis_matches_a_fresh_fit(spark):
    """Provenance pin for PCA_FROZEN_COMPONENTS (r11 verdict #3): the
    frozen literals are one embed_pca fit on sf0.001, frozen to 1e-6
    integer units. A fresh fit must reproduce each component up to
    sign (eigenvector sign is arbitrary): |cos| >= 0.999. Guards both
    against literal rot (fixture regenerated, literals stale) and
    against the constant being edited into something that is no longer
    PCA."""
    import numpy as np

    from big_data_crypto_sentiment_spark.queries._util import table
    from big_data_crypto_sentiment_spark.queries.similarity import (
        PCA_FROZEN_COMPONENTS,
        embed_pca,
    )
    e = table(spark, "/root/testdata/sf0.001", "embeddings") \
        .select("vec_id", "embedding")
    model, _, _ = embed_pca(e)
    refit = model.pc.toArray().T                     # (k, d)
    frozen = np.array(PCA_FROZEN_COMPONENTS, dtype=np.float64) / 1e6
    assert frozen.shape == refit.shape == (8, 64)
    for k in range(8):
        cos = abs(float(frozen[k] @ refit[k])
                  / (np.linalg.norm(frozen[k])
                     * np.linalg.norm(refit[k])))
        assert cos >= 0.999, (k, cos)
    # magnitude headroom the exactness argument rests on:
    # |c| < 2^19 per component entry
    assert np.abs(np.array(PCA_FROZEN_COMPONENTS)).max() < (1 << 19)


def test_embed_pca_frozen_projection_is_exact_integer_math(spark):
    """The registered projection equals a numpy integer matmul of the
    frozen vectors against the frozen basis, divided by 1e12 — no
    float-accumulation slack anywhere."""
    import numpy as np

    from big_data_crypto_sentiment_spark.queries.similarity import (
        PCA_FROZEN_COMPONENTS,
        q_embed_pca_frozen,
    )
    rows = q_embed_pca_frozen(spark, "/root/testdata/sf0.001") \
        .orderBy("vec_id").limit(20).collect()
    import duckdb
    emb = dict(duckdb.sql(
        "SELECT vec_id, embedding FROM "
        "'/root/testdata/sf0.001/embeddings.parquet' "
        "ORDER BY vec_id LIMIT 20").fetchall())
    comp = np.array(PCA_FROZEN_COMPONENTS, dtype=np.int64)
    for r in rows:
        x8 = np.round(np.array(emb[r.vec_id], dtype=np.float64)
                      * 1e6).astype(np.int64)
        want = (comp @ x8).astype(np.float64) / 1e12
        got = np.array([getattr(r, f"p{k}") for k in range(8)])
        assert (got == want).all(), r.vec_id   # bit-exact, not approx


def test_two_level_semdedup_matches_exhaustive_on_separated_clusters(
        spark):
    """semdedup_assign_routed (O(N·√k·d) two-level routing — the fix
    for the exhaustive assignment's N·k·d term going quadratic under
    the k ∝ N rule) must agree with the exhaustive path wherever
    routing picks the same centroid. On well-separated clusters it
    picks the same centroid EVERYWHERE, so the full SemDeDup outputs
    are identical row for row. Edge inputs pinned alongside: a
    zero-norm vector gets cos_c NULL from both assignment front-ends
    (not NaN), and the numpy path rejects a non-integer cid and a
    ragged centroid table with a clear ValueError instead of diverging
    from the expression path."""
    import numpy as np

    from big_data_crypto_sentiment_spark.queries.similarity import (
        _assign_np,
        _freeze_vectors,
        _semdedup_pairs,
        freeze_kmeans_centroids,
        semdedup,
        semdedup_assign_routed,
    )
    rng = np.random.default_rng(7)
    k, n_per, d = 12, 25, 16
    centers = rng.normal(size=(k, d)) * 50        # far apart
    rows = []
    vid = 0
    for c in range(k):
        for _ in range(n_per):
            v = centers[c] + 0.05 * rng.normal(size=d)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    vecs = spark.createDataFrame(rows,
                                 "vec_id long, embedding array<float>")
    cents_list = [(c, [float(x) for x in centers[c]]) for c in range(k)]
    frozen = _freeze_vectors(vecs)
    cents = freeze_kmeans_centroids(spark, cents_list)
    exhaustive = semdedup(frozen, cents)
    routed_assigned = semdedup_assign_routed(spark, frozen, cents_list,
                                             kc=4)
    routed = _semdedup_pairs(frozen, routed_assigned, 0.35)
    a = {r.vec_id: (r.cid, r.cos_to_centroid, r.is_kept)
         for r in exhaustive.collect()}
    b = {r.vec_id: (r.cid, r.cos_to_centroid, r.is_kept)
         for r in routed.collect()}
    assert a == b and len(a) == k * n_per
    # the dedup did real work (planted tight clusters -> drops)
    assert sum(1 for _, _, kept in a.values() if not kept) > 0
    # zero-norm vectors: 0/0 is NULL on both front-ends and in the pair
    # stage (try_divide), also under ANSI mode, where a plain division
    # raises DIVIDE_BY_ZERO; two zero vectors share a cluster, so the
    # pair cosine divides by zero too, and both are kept
    zero = _freeze_vectors(spark.createDataFrame(
        [(vid, [0.0] * d), (vid + 1, [0.0] * d)],
        "vec_id long, embedding array<float>"))
    with conf_gates(spark, {"spark.sql.ansi.enabled": "true"}):
        got = [(r.vn2, r.cos_c) for r in (
            _assign_np(zero, cents).collect()
            + semdedup_assign_routed(spark, zero, cents_list,
                                     kc=4).collect())]
        kept = [(r.cos_to_centroid, r.is_kept)
                for r in semdedup(zero, cents).collect()]
    assert got == [(0, None)] * 4
    assert kept == [(None, True)] * 2
    with pytest.raises(ValueError, match="must be integers"):
        semdedup(frozen, cents.withColumn("cid",
                                          cents["cid"].cast("string")))
    with pytest.raises(ValueError, match="ragged centroid table"):
        semdedup(frozen, cents.filter("NOT (cid = 3 AND dim = 5)"))


def test_semdedup_kmeans_auto_threshold_wiring(spark):
    """Below TWO_LEVEL_MIN_K the default path stays exhaustive (the
    recorded bench series depends on it); explicit two_level=True
    forces routing and still returns the same schema."""
    from big_data_crypto_sentiment_spark.queries._util import table
    from big_data_crypto_sentiment_spark.queries.similarity import (
        TWO_LEVEL_MIN_K,
        semdedup_k_for,
        semdedup_kmeans,
    )
    # every size the RECORDED series actually runs semdedup_kmeans at
    # stays below the auto threshold (sf0.1's 2k embeddings; the
    # x10 curate funnel's 20k) — so the r10-r12 bench numbers compare
    # like for like; the x30 corpus would cross it but the funnel
    # deliberately doesn't run there (BASELINE.md §r12)
    assert semdedup_k_for(2_000) < TWO_LEVEL_MIN_K
    assert semdedup_k_for(20_000) < TWO_LEVEL_MIN_K
    # ... and the rule reaches the threshold where routing should kick
    # in (k = N/100 ≥ 256 from N = 25,600 embedded docs)
    assert semdedup_k_for(TWO_LEVEL_MIN_K * 100) >= TWO_LEVEL_MIN_K
    e = table(spark, "/root/testdata/sf0.001", "embeddings") \
        .select("vec_id", "embedding")
    out = semdedup_kmeans(spark, e, k=8, two_level=True)
    assert out.columns == ["vec_id", "cid", "cos_to_centroid",
                           "is_kept"]
    assert out.count() == e.count()


def test_semdedup_fit_cap_samples_the_kmeans_input(spark):
    """Past fit_cap rows the k-means fit runs on a hash-sample while
    the ASSIGNMENT still covers every row — output cardinality and
    schema are unchanged and drops still happen on planted dups."""
    import numpy as np

    from big_data_crypto_sentiment_spark.queries.similarity import (
        SEMDEDUP_FIT_CAP,
        semdedup_kmeans,
    )
    rng = np.random.default_rng(3)
    centers = rng.normal(size=(4, 8)) * 30
    rows = []
    for i in range(400):
        v = centers[i % 4] + 0.05 * rng.normal(size=8)
        rows.append((i, [float(x) for x in v]))
    vecs = spark.createDataFrame(rows,
                                 "vec_id long, embedding array<float>")
    out = semdedup_kmeans(spark, vecs, k=4, fit_cap=100).collect()
    assert len(out) == 400
    assert sum(1 for r in out if not r.is_kept) > 0
    # nothing the recorded series runs crosses the default cap
    assert SEMDEDUP_FIT_CAP >= 100_000
