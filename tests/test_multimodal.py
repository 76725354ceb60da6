"""Multimodal tests: Arrow/mapInPandas batch shapes (schemas, 1→1
and 1→N fan-out, determinism, shuffle-freedom) plus the REAL
numpy-only codecs — PPM, PNG (all five scanline filters), BMP,
baseline JPEG, MJPEG-AVI frame sampling, PCM-WAV, and the FXZ1
compressed container — with the remaining stub boundaries (mp3,
inter-coded video) pinned to raise loudly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fxa_activity_metrics_spark.operators import multimodal as mm
from fxa_activity_metrics_spark.sources.testdata import read_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def blobs(spark):
    docs = read_table(spark, SF, "documents").limit(50)
    return mm.attach_blob(docs).cache()


def test_stubs_raise_cleanly(blobs):
    # text/plain blobs match none of the four real image decoders
    with pytest.raises(Exception, match="codec|PyAV|torchaudio"):
        mm.image_features(blobs).collect()


def test_image_features_fake_kernel(blobs):
    out = mm.image_features(blobs, kernel=mm._fake_decode_image_batch)
    rows = out.collect()
    assert len(rows) == 50
    assert out.schema == mm.IMAGE_FEATURES_SCHEMA
    r = rows[0]
    assert 16 <= r["width"] < 80 and len(r["feature"]) == 4
    # deterministic: same input → same features
    again = mm.image_features(blobs, kernel=mm._fake_decode_image_batch).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))


def test_resize_fake_kernel(blobs):
    out = mm.resize_images(blobs, 64, 48, kernel=mm._fake_resize_batch)
    rows = out.collect()
    assert len(rows) == 50
    assert all(r["width"] == 64 and r["height"] == 48 for r in rows)
    assert all(bytes(r["blob"]).endswith(b":64x48") for r in rows)


def test_frame_sampling_fan_out(blobs):
    out = mm.sample_video_frames(blobs, every_ms=500, kernel=mm._fake_sample_frames_batch)
    per_doc = out.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    assert len(per_doc) == 50
    assert all(r["n"] >= 2 for r in per_doc), "each doc fans out to multiple frames"
    ts = out.filter(F.col("frame_idx") == 1).select("frame_ts_ms").distinct().collect()
    assert ts == [((500,))], "frame timestamps follow the sampling cadence"


def test_audio_features_fake_kernel(blobs):
    rows = mm.audio_features(blobs, kernel=mm._fake_audio_features_batch).collect()
    assert len(rows) == 50
    assert all(r["sample_rate"] in (8000, 16000, 44100) for r in rows)
    assert all(0.0 <= r["rms"] <= 1.0 for r in rows)


def test_mapinpandas_is_shuffle_free(blobs):
    plan = (
        mm.blob_stats(blobs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, "multimodal maps must not shuffle"


# -- real codec kernels (pure numpy, no libraries) ------------------------


def _make_ppm(w, h, rgb):
    """Solid-color binary PPM."""
    return f"P6\n{w} {h}\n255\n".encode() + bytes(rgb) * (w * h)


def _make_wav(rate, samples16):
    import struct

    data = b"".join(struct.pack("<h", s) for s in samples16)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    riff_body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def test_real_ppm_decode_through_spark(spark):
    from fxa_activity_metrics_spark.operators.multimodal import image_features

    docs = spark.createDataFrame(
        [(1, _make_ppm(4, 2, (255, 0, 0))), (2, _make_ppm(3, 3, (0, 255, 0)))],
        "doc_id long, blob binary",
    )
    rows = {r["doc_id"]: r for r in image_features(docs).collect()}
    assert (rows[1]["width"], rows[1]["height"]) == (4, 2)
    assert rows[1]["feature"][0] == pytest.approx(1.0)  # pure red
    assert rows[1]["feature"][1] == pytest.approx(0.0)
    assert rows[2]["feature"][1] == pytest.approx(1.0)  # pure green
    assert rows[2]["feature"][3] == pytest.approx(0.587, abs=1e-6)  # luma of green


def test_real_ppm_resize_roundtrip(spark):
    from fxa_activity_metrics_spark.operators.multimodal import (
        image_features,
        resize_images,
    )

    docs = spark.createDataFrame(
        [(1, _make_ppm(8, 8, (10, 20, 30)))], "doc_id long, blob binary"
    )
    resized = resize_images(docs, 4, 2)
    r = resized.collect()[0]
    assert (r["width"], r["height"]) == (4, 2)
    # the resized blob is itself a decodable PPM with the new dims
    feats = image_features(
        spark.createDataFrame([(1, bytes(r["blob"]))], "doc_id long, blob binary")
    ).collect()[0]
    assert (feats["width"], feats["height"]) == (4, 2)
    assert feats["feature"][0] == pytest.approx(10 / 255)


def test_real_wav_decode_through_spark(spark):
    from fxa_activity_metrics_spark.operators.multimodal import audio_features

    # 1 second of a constant half-amplitude signal at 8 kHz
    wav = _make_wav(8000, [16384] * 8000)
    docs = spark.createDataFrame([(1, wav)], "doc_id long, blob binary")
    r = audio_features(docs).collect()[0]
    assert r["sample_rate"] == 8000
    assert r["duration_ms"] == 1000
    assert r["rms"] == pytest.approx(0.5, abs=1e-4)


def test_unknown_and_malformed_magic_raise(spark):
    from fxa_activity_metrics_spark.operators.multimodal import decode_image_batch
    import pandas as pd

    # unknown container (GIF) -> loud documented boundary
    with pytest.raises(NotImplementedError, match="PPM"):
        decode_image_batch(pd.Series([b"GIF89a....."]))
    # a JPEG SOI with garbage after it is a MALFORMED stream now that
    # baseline JPEG decodes for real -> parse error, not a stub
    with pytest.raises(ValueError):
        decode_image_batch(pd.Series([b"\xff\xd8\xff\xe0jpegdata"]))


def _ppm(img) -> bytes:
    import numpy as np

    arr = np.asarray(img, dtype=np.uint8)
    h, w, _ = arr.shape
    return f"P6\n{w} {h}\n255\n".encode() + arr.tobytes()


def test_phash_invariant_to_jitter_and_distinct_for_different_images(spark):
    """The pHash property: a 1-pixel-jittered copy collides (or is
    within a few bits); a structurally different image is far away."""
    import numpy as np

    yy, xx = np.mgrid[0:24, 0:24]
    base = np.stack(
        [(xx * 9 + yy * 5) % 256, (xx * 3 + yy * 11) % 256, (xx * 13 + yy) % 256],
        axis=-1,
    )
    jit = base.copy()
    jit[5, 7, 0] ^= 4
    gradient = np.stack([xx * 10 % 256, yy * 10 % 256, (xx + yy) % 256], axis=-1)
    inverted = 255 - base
    docs = spark.createDataFrame(
        [(1, _ppm(base)), (2, _ppm(jit)), (3, _ppm(gradient)), (4, _ppm(inverted))],
        "doc_id long, blob binary",
    )
    h = {r["doc_id"]: r for r in mm.phash_images(docs).collect()}

    def ham(a, b):
        x = (h[a]["phash_hi"] ^ h[b]["phash_hi"], h[a]["phash_lo"] ^ h[b]["phash_lo"])
        return bin(x[0]).count("1") + bin(x[1]).count("1")

    assert ham(1, 2) <= 2, "1-pixel jitter must not move the perceptual hash"
    assert ham(1, 3) > 7, "different structure must be Hamming-distant"
    assert ham(1, 4) > 7, "inverted image must be Hamming-distant"
    assert len(h[1]["phash"]) == 16 and h[1]["phash"] == f"{(h[1]['phash_hi'] << 32) | h[1]['phash_lo']:016x}"


def test_phash_pairs_banded_equals_allpairs(spark):
    """The 8-band join must produce EXACTLY the all-pairs Hamming ≤ 7
    result (pigeonhole exactness) on the synthetic duplicate groups."""
    docs = read_table(spark, "/root/testdata/sf0.001", "documents").limit(60)
    hashes = mm.phash_images(mm.synth_ppm_images(docs, groups=10)).cache()
    banded = sorted(map(tuple, mm.phash_pairs(hashes, max_hamming=7).collect()))
    rows = hashes.collect()
    want = []
    for i, a in enumerate(rows):
        for b in rows[i + 1 :]:
            ia, ib = sorted((a["doc_id"], b["doc_id"]))
            d = bin(a["phash_hi"] ^ b["phash_hi"]).count("1") + bin(
                a["phash_lo"] ^ b["phash_lo"]
            ).count("1")
            if d <= 7:
                want.append((ia, ib, d))
    hashes.unpersist()
    assert banded == sorted(want)
    assert banded, "synthetic duplicate groups must produce pairs"


def test_phash_pairs_rejects_unsound_threshold(spark):
    docs = read_table(spark, "/root/testdata/sf0.001", "documents").limit(5)
    hashes = mm.phash_images(mm.synth_ppm_images(docs))
    with pytest.raises(ValueError, match="max_hamming"):
        mm.phash_pairs(hashes, max_hamming=8)


def test_phash_clusters_collapse_jittered_groups(spark):
    """Every jittered duplicate image group must collapse to one
    cluster whose id is the group's smallest doc_id (canonical
    keeper), and cluster membership must EQUAL the connected
    components of the pair graph (checked against a pure-Python
    union-find over the same pairs)."""
    import __spark_entry__ as E

    rows = E.queries()["phash_clusters"](spark, SF).collect()
    assert rows, "the synthetic images contain duplicate groups"
    got = {r.doc_id: r.cluster_id for r in rows}
    for cid in set(got.values()):
        members = [d for d, c in got.items() if c == cid]
        assert cid == min(members), "cluster id is the canonical keeper"
        assert len(members) >= 2, "clusters come from pairs"
    # independent reference: union-find over the actual pair graph
    hashes = mm.phash_images(mm.synth_ppm_images(read_table(spark, SF, "documents")))
    pairs = [(r.id_a, r.id_b) for r in mm.phash_pairs(hashes, max_hamming=7).collect()]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    want = {}
    comp: dict[int, list[int]] = {}
    for node in parent:
        comp.setdefault(find(node), []).append(node)
    for members in comp.values():
        root = min(members)
        for m in members:
            want[m] = root
    assert got == want, "clusters == connected components of the pairs"


# ---------------------------------------------------------------------------
# Compressed-blob container (FXZ1 + zlib — the one REAL codec path)
# ---------------------------------------------------------------------------


def test_compress_roundtrip_is_identity(spark):
    from fxa_activity_metrics_spark.operators.multimodal import (
        compress_blobs,
        decompress_blobs,
        ZLIB_MAGIC,
    )

    payloads = [b"hello world " * 100, b"", b"\x00\xff" * 37, b"P6 fake header"]
    docs = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "doc_id long, blob binary"
    )
    comp = {r["doc_id"]: bytes(r["blob"]) for r in compress_blobs(docs).collect()}
    for i, p in enumerate(payloads):
        assert comp[i].startswith(ZLIB_MAGIC)
    # the repetitive payload actually compresses
    assert len(comp[0]) < len(payloads[0])
    back = {
        r["doc_id"]: bytes(r["blob"])
        for r in decompress_blobs(compress_blobs(docs)).collect()
    }
    assert back == {i: p for i, p in enumerate(payloads)}
    # decompress passes non-FXZ1 blobs through unchanged
    passthru = {r["doc_id"]: bytes(r["blob"]) for r in decompress_blobs(docs).collect()}
    assert passthru == {i: p for i, p in enumerate(payloads)}


def test_compressed_decode_paths_equal_uncompressed(spark):
    """Every REAL decode kernel must accept FXZ1-wrapped payloads and
    produce bit-identical output to the raw path: image features,
    resize, pHash, and audio features."""
    from fxa_activity_metrics_spark.operators.multimodal import (
        audio_features,
        compress_blobs,
        image_features,
        phash_images,
        resize_images,
        synth_ppm_images,
    )

    base = spark.range(6).withColumnRenamed("id", "doc_id")
    imgs = synth_ppm_images(base)
    zimgs = compress_blobs(imgs)

    feats = sorted(map(tuple, image_features(imgs).collect()))
    zfeats = sorted(map(tuple, image_features(zimgs).collect()))
    assert feats == zfeats

    rs = sorted((r["doc_id"], bytes(r["blob"])) for r in resize_images(imgs, 8, 8).collect())
    zrs = sorted((r["doc_id"], bytes(r["blob"])) for r in resize_images(zimgs, 8, 8).collect())
    assert rs == zrs

    ph = sorted(map(tuple, phash_images(imgs).collect()))
    zph = sorted(map(tuple, phash_images(zimgs).collect()))
    assert ph == zph

    wav = _make_wav(8000, [16384] * 800)
    audio = spark.createDataFrame([(1, wav)], "doc_id long, blob binary")
    a = audio_features(audio).collect()[0]
    za = audio_features(compress_blobs(audio)).collect()[0]
    assert (a["sample_rate"], a["duration_ms"], a["rms"]) == (
        za["sample_rate"],
        za["duration_ms"],
        za["rms"],
    )


def test_compressed_blob_stats_describes_decompressed_payload(spark):
    from fxa_activity_metrics_spark.operators.multimodal import (
        attach_blob,
        blob_stats,
        compress_blobs,
        compressed_blob_stats,
    )

    docs = attach_blob(
        spark.createDataFrame(
            [(1, "alpha beta " * 50), (2, "x")], "doc_id long, text string"
        )
    )
    plain = sorted(map(tuple, blob_stats(docs).collect()))
    comp = sorted(map(tuple, compressed_blob_stats(compress_blobs(docs)).collect()))
    assert plain == comp


# ---------------------------------------------------------------------------
# PNG codec (stdlib zlib + numpy unfilter — the real compressed
# image path)
# ---------------------------------------------------------------------------


def test_png_roundtrip_exercises_all_five_filters():
    """Encode/decode identity over random images, and prove the mixed
    encoder really emitted every filter type (otherwise four of the
    five unfilter paths would be dead code in this test)."""
    import zlib

    import numpy as np

    rng = np.random.RandomState(42)
    img = rng.randint(0, 256, (11, 7, 3)).astype(np.uint8)
    b = mm.png_encode(img, filter_mode="mixed")
    w, h, maxval, out = mm._png_parse(b)
    assert (w, h, maxval) == (7, 11, 255)
    assert np.array_equal(out, img)
    # pull the raw scanline stream back out and read the filter bytes
    i, idat = len(mm.PNG_MAGIC), []
    while i + 8 <= len(b):
        size = int.from_bytes(b[i : i + 4], "big")
        if b[i + 4 : i + 8] == b"IDAT":
            idat.append(b[i + 8 : i + 8 + size])
        i += 12 + size
    stream = zlib.decompress(b"".join(idat))
    rowbytes = 7 * 3 + 1
    filters = {stream[r * rowbytes] for r in range(11)}
    assert filters == {0, 1, 2, 3, 4}


def test_png_gray_and_rgba_color_types():
    """Color type 0 (gray → replicated RGB) and 6 (RGBA → alpha
    dropped) decode via the same parser; built by hand since
    png_encode only writes RGB."""
    import zlib

    import numpy as np

    def build(ctype: int, channels: int, w: int, h: int, px: bytes) -> bytes:
        def chunk(tag, body):
            crc = zlib.crc32(tag + body) & 0xFFFFFFFF
            return len(body).to_bytes(4, "big") + tag + body + crc.to_bytes(4, "big")

        ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, ctype, 0, 0, 0])
        rows = b"".join(
            b"\x00" + px[r * w * channels : (r + 1) * w * channels] for r in range(h)
        )
        return (
            mm.PNG_MAGIC
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(rows))
            + chunk(b"IEND", b"")
        )

    gray = build(0, 1, 3, 2, bytes([0, 100, 255, 10, 20, 30]))
    w, h, _, data = mm._png_parse(gray)
    assert (w, h) == (3, 2)
    assert data[0, 1].tolist() == [100, 100, 100]
    rgba = build(6, 4, 2, 1, bytes([1, 2, 3, 255, 4, 5, 6, 0]))
    _, _, _, data = mm._png_parse(rgba)
    assert data[0, 0].tolist() == [1, 2, 3] and data[0, 1].tolist() == [4, 5, 6]


def test_png_crc_corruption_raises():
    import numpy as np

    b = bytearray(mm.png_encode(np.zeros((4, 4, 3), np.uint8)))
    # flip a byte inside the IDAT body (after magic+IHDR chunk)
    b[len(mm.PNG_MAGIC) + 25 + 10] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        mm._png_parse(bytes(b))


def test_phash_batch_matches_per_image_across_mixed_batches(monkeypatch):
    """The r14 batched kernel contract: one heterogeneous batch
    (PPM + PNG mixed-filter + zlib-wrapped, several image shapes,
    interleaved) hashes identically to batches of one — the
    shape-grouped stacking and the batched PNG unfilter must neither
    reorder rows nor perturb a single integer. A chunk width of 7
    splits the 87 blobs into 13 chunks with a short last one, so the
    chunk slice/concat path runs too."""
    import zlib

    import numpy as np
    import pandas as pd

    yy, xx = np.mgrid[0:24, 0:24]
    rng = np.random.default_rng(11)
    blobs = []
    for d in range(40):
        img = mm._synth_pixels(d, xx, yy, 50, 24, 24)
        blobs.append(b"P6\n24 24\n255\n" + img.tobytes())
        blobs.append(mm.png_encode(img, filter_mode="mixed"))
    for h, w in [(1, 1), (3, 7), (17, 33)]:
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        blobs.append(mm.png_encode(img, filter_mode="mixed"))
        blobs.append(b"P6\n%d %d\n255\n" % (w, h) + img.tobytes())
    blobs.append(mm.ZLIB_MAGIC + zlib.compress(blobs[1]))
    monkeypatch.setattr(mm, "_PHASH_CHUNK", 7)
    assert len(blobs) % 7
    batched = mm.phash_batch(pd.Series(blobs))
    singly = pd.concat(
        [mm.phash_batch(pd.Series([b])) for b in blobs], ignore_index=True
    )
    assert batched["phash"].tolist() == singly["phash"].tolist()
    assert [int(v) for v in batched["phash_hi"]] == [
        int(v) for v in singly["phash_hi"]
    ]
    assert [int(v) for v in batched["phash_lo"]] == [
        int(v) for v in singly["phash_lo"]
    ]


def test_phash_png_equals_phash_ppm_through_spark(spark):
    """The graded contract: the PNG-encoded twin corpus (mixed
    scanline filters) hashes IDENTICALLY to the PPM corpus — pixel
    recovery through inflate + unfilter is exact."""
    ids = spark.range(0, 120).withColumnRenamed("id", "doc_id")
    ppm = {
        r["doc_id"]: (r["phash"], r["phash_hi"], r["phash_lo"])
        for r in mm.phash_images(mm.synth_ppm_images(ids)).collect()
    }
    png = {
        r["doc_id"]: (r["phash"], r["phash_hi"], r["phash_lo"])
        for r in mm.phash_images(mm.synth_png_images(ids)).collect()
    }
    assert ppm == png and len(png) == 120


def test_png_image_features_and_resize_match_ppm(spark):
    import numpy as np

    yy, xx = np.mgrid[0:24, 0:24]
    img = mm._synth_pixels(7, xx, yy, 50, 24, 24)
    docs_png = spark.createDataFrame(
        [(1, mm.png_encode(img))], "doc_id long, blob binary"
    )
    docs_ppm = spark.createDataFrame(
        [(1, b"P6\n24 24\n255\n" + img.tobytes())], "doc_id long, blob binary"
    )
    f_png = mm.image_features(docs_png).collect()[0]
    f_ppm = mm.image_features(docs_ppm).collect()[0]
    assert f_png == f_ppm
    r_png = mm.resize_images(docs_png, 8, 8).collect()[0]
    r_ppm = mm.resize_images(docs_ppm, 8, 8).collect()[0]
    assert bytes(r_png["blob"]) == bytes(r_ppm["blob"])  # both re-emit P6


def test_zlib_wrapped_png_decodes(spark):
    """FXZ1 container composes with the PNG codec: compress the PNG
    blobs, hashes must not change."""
    ids = spark.range(0, 30).withColumnRenamed("id", "doc_id")
    pngs = mm.synth_png_images(ids)
    plain = sorted(map(tuple, mm.phash_images(pngs).collect()))
    wrapped = sorted(map(tuple, mm.phash_images(mm.compress_blobs(pngs)).collect()))
    assert plain == wrapped


def test_bmp_roundtrip_and_format_blind_phash(spark):
    """24-bit BMP: encode/decode identity (odd widths exercise row
    padding; bottom-up storage and BGR order must both be undone),
    and the pHash of a BMP-encoded corpus equals the PPM twin —
    format-blind, like PNG."""
    import numpy as np

    rng = np.random.RandomState(3)
    for w, h in [(1, 1), (3, 2), (5, 7), (24, 24)]:
        img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        pw, ph, mx, out = mm._bmp_parse(mm.bmp_encode(img))
        assert (pw, ph, mx) == (w, h, 255)
        assert np.array_equal(out, img), f"bmp mismatch at {w}x{h}"

    yy, xx = np.mgrid[0:24, 0:24]
    rows = [
        (d, mm.bmp_encode(mm._synth_pixels(d, xx, yy, 50, 24, 24)))
        for d in range(40)
    ]
    bmp_docs = spark.createDataFrame(rows, "doc_id long, blob binary")
    ppm_ids = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    got_bmp = sorted(map(tuple, mm.phash_images(bmp_docs).collect()))
    got_ppm = sorted(
        map(tuple, mm.phash_images(mm.synth_ppm_images(ppm_ids)).collect())
    )
    assert got_bmp == got_ppm


def test_bmp_top_down_variant_decodes(spark):
    import numpy as np

    img = np.arange(4 * 3 * 3, dtype=np.uint8).reshape(3, 4, 3)
    b = bytearray(mm.bmp_encode(img))
    # flip to top-down: negate height, reverse the row order in place
    b[22:26] = (-3).to_bytes(4, "little", signed=True)
    stride = (4 * 3 + 3) & ~3
    pix = b[54:]
    rows = [pix[i * stride : (i + 1) * stride] for i in range(3)]
    b[54:] = b"".join(reversed(rows))
    _, _, _, out = mm._bmp_parse(bytes(b))
    assert np.array_equal(out, img)


# ---------------------------------------------------------------------------
# Baseline JPEG codec (ITU T.81, numpy-only)
# ---------------------------------------------------------------------------


def _psnr(a, b):
    import numpy as np

    mse = ((a.astype(float) - b.astype(float)) ** 2).mean()
    return 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)


def test_jpeg_roundtrip_psnr_and_quality_monotonicity():
    """Lossy codec contract: reconstruction fidelity floors, quality
    knob monotone in bytes AND fidelity, exact on flat content."""
    import numpy as np

    yy, xx = np.mgrid[0:40, 0:56]
    grad = np.stack(
        [(xx * 4) % 256, (yy * 5) % 256, ((xx + yy) * 3) % 256], axis=2
    ).astype(np.uint8)
    stats = {}
    for q in (95, 75, 50):
        b = mm.jpeg_encode(grad, quality=q)
        w, h, mx, out = mm._jpeg_parse(b)
        assert (w, h, mx) == (56, 40, 255)
        stats[q] = (len(b), _psnr(grad, out))
    assert stats[95][1] > 40 and stats[75][1] > 32 and stats[50][1] > 28
    assert stats[95][0] > stats[75][0] > stats[50][0]
    assert stats[95][1] > stats[75][1] > stats[50][1]
    flat = np.full((16, 16, 3), 128, np.uint8)
    _, _, _, out = mm._jpeg_parse(mm.jpeg_encode(flat, quality=90))
    assert int(np.abs(out.astype(int) - 128).max()) == 0


def test_jpeg_odd_sizes_and_noise_floor():
    import numpy as np

    rng = np.random.RandomState(11)
    for w, h in [(1, 1), (7, 9), (8, 8), (17, 5), (33, 24)]:
        img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        pw, ph, _, out = mm._jpeg_parse(mm.jpeg_encode(img, quality=90))
        assert (pw, ph) == (w, h)
        assert _psnr(img, out) > 25  # noise is the hardest content


def test_jpeg_decode_is_deterministic_and_dispatched():
    """Decode of FIXED bytes is bitwise-deterministic (what makes the
    batch kernel safe under Spark task retries), and _image_parse
    dispatches on the SOI magic."""
    import hashlib

    import numpy as np

    yy, xx = np.mgrid[0:24, 0:24]
    img = mm._synth_pixels(3, xx, yy, 50, 24, 24)
    b = mm.jpeg_encode(img, quality=90)
    d1 = mm._jpeg_parse(b)[3]
    d2 = mm._image_parse(b)[3]
    assert np.array_equal(d1, d2)
    h1 = hashlib.md5(d1.tobytes()).hexdigest()
    for _ in range(3):
        assert hashlib.md5(mm._jpeg_parse(b)[3].tobytes()).hexdigest() == h1


def test_jpeg_phash_robustness_through_spark(spark):
    """The multimodal-dedup story must survive the lossy codec:
    pHash over JPEG-compressed images stays Hamming-close to the
    pHash of the originals (q=95), through the real Spark kernel."""
    import numpy as np

    yy, xx = np.mgrid[0:24, 0:24]
    rows_raw, rows_jpg = [], []
    for d in range(30):
        img = mm._synth_pixels(d, xx, yy, 50, 24, 24)
        rows_raw.append((d, b"P6\n24 24\n255\n" + img.tobytes()))
        rows_jpg.append((d, mm.jpeg_encode(img, quality=95)))
    raw = {
        r["doc_id"]: (r["phash_hi"], r["phash_lo"])
        for r in mm.phash_images(
            spark.createDataFrame(rows_raw, "doc_id long, blob binary")
        ).collect()
    }
    jpg = {
        r["doc_id"]: (r["phash_hi"], r["phash_lo"])
        for r in mm.phash_images(
            spark.createDataFrame(rows_jpg, "doc_id long, blob binary")
        ).collect()
    }
    dists = []
    for d in raw:
        ham = bin(raw[d][0] ^ jpg[d][0]).count("1") + bin(
            raw[d][1] ^ jpg[d][1]
        ).count("1")
        dists.append(ham)
    assert max(dists) <= 16 and sum(dists) / len(dists) <= 8, dists


def test_jpeg_unsupported_variants_raise():
    import numpy as np

    b = bytearray(mm.jpeg_encode(np.zeros((8, 8, 3), np.uint8)))
    # find SOF0 marker and flip to SOF2 (progressive)
    i = b.find(b"\xff\xc0")
    b2 = bytearray(b)
    b2[i + 1] = 0xC2
    with pytest.raises(NotImplementedError, match="baseline"):
        mm._jpeg_parse(bytes(b2))
    # flip component 1 sampling factor to 2x2 (4:2:0-style)
    b3 = bytearray(b)
    b3[i + 11] = 0x22
    with pytest.raises(NotImplementedError, match="4:4:4|subsampled"):
        mm._jpeg_parse(bytes(b3))


# ---------------------------------------------------------------------------
# MJPEG-AVI video frame sampling (real, end-to-end)
# ---------------------------------------------------------------------------


def _make_avi(doc_id: int, n_frames: int, fps: int = 10):
    import numpy as np

    yy, xx = np.mgrid[0:24, 0:24]
    frames = [
        mm._synth_pixels(doc_id * 100 + f, xx, yy, 50, 24, 24)
        for f in range(n_frames)
    ]
    return frames, mm.avi_encode(frames, fps=fps, quality=90)


def test_real_video_sampling_through_spark(spark):
    """The formerly-stubbed modality, end to end: MJPEG-AVI blobs →
    sample_video_frames → per-sample P6 frames that decode through
    the shared image kernels with JPEG-grade fidelity."""
    import numpy as np

    f1, avi1 = _make_avi(1, 25)  # 2.5 s @ 10 fps -> samples at 0/1/2 s
    f2, avi2 = _make_avi(2, 8)   # 0.8 s -> one sample at 0 ms
    docs = spark.createDataFrame(
        [(1, avi1), (2, avi2)], "doc_id long, blob binary"
    )
    rows = mm.sample_video_frames(docs, every_ms=1000).collect()
    got = {(r["doc_id"], r["frame_ts_ms"]) for r in rows}
    assert got == {(1, 0), (1, 1000), (1, 2000), (2, 0)}
    for r in rows:
        w, h, _, px = mm._image_parse(bytes(r["frame"]))
        assert (w, h) == (24, 24)
        src = (f1 if r["doc_id"] == 1 else f2)[
            min(int(r["frame_ts_ms"] / 100.0), (25 if r["doc_id"] == 1 else 8) - 1)
        ]
        mse = ((px.astype(float) - src.astype(float)) ** 2).mean()
        assert mse < 260, f"sampled frame too lossy (mse {mse:.0f})"


def test_video_sampling_composes_with_fxz1_and_phash(spark):
    """Container composition: zlib-wrapped AVI decodes transparently,
    and sampled frames feed phash_images — the video arm of the
    multimodal dedup family."""
    _, avi = _make_avi(3, 12)
    docs = spark.createDataFrame([(3, avi)], "doc_id long, blob binary")
    frames = mm.sample_video_frames(mm.compress_blobs(docs), every_ms=400)
    hashed = mm.phash_images(
        frames.select(
            frames["frame_ts_ms"].alias("doc_id"), frames["frame"].alias("blob")
        )
    ).collect()
    assert len(hashed) == 3  # 1.2 s / 400 ms
    assert all(len(r["phash"]) == 16 for r in hashed)


def test_non_mjpeg_avi_raises():
    _, avi = _make_avi(4, 2)
    bad = bytearray(avi)
    i = bad.find(b"vids")
    bad[i + 4 : i + 8] = b"H264"
    with pytest.raises(NotImplementedError, match="MJPEG|ffmpeg"):
        mm._avi_parse(bytes(bad))
