"""Multimodal plumbing tests: Arrow-batched feature extraction over
binary columns, vectorized frame explosion, metadata attach."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    multimodal,
)


def _media(spark, blobs):
    rows = [(i, "image", b) for i, b in enumerate(blobs)]
    return spark.createDataFrame(
        rows, "media_id LONG, kind STRING, content BINARY"
    )


def test_decode_image_features_deterministic(spark):
    blobs = [b"fake-image-bytes", b"", b"another blob"]
    out = {
        r.media_id: r
        for r in multimodal.decode_image_features(_media(spark, blobs)).collect()
    }
    for i, blob in enumerate(blobs):
        h = hashlib.sha256(blob).digest()
        assert out[i].height == 1 + h[0] % 64
        assert out[i].width == 1 + h[1] % 64
        assert out[i].mean_luma == pytest.approx(h[2] / 255.0)
        assert out[i].content_sha == hashlib.sha256(blob).hexdigest()


def test_decode_image_features_schema(spark):
    out = multimodal.decode_image_features(_media(spark, [b"x"]))
    assert dict(out.dtypes) == {
        "media_id": "bigint",
        "height": "int",
        "width": "int",
        "mean_luma": "double",
        "content_sha": "string",
    }


def test_real_decoder_path_raises(spark):
    df = multimodal.decode_image_features(_media(spark, [b"x"]), fake=False)
    with pytest.raises(Exception, match="NotImplementedError|PIL|opencv"):
        df.collect()


def test_frame_sample_explosion_counts(spark):
    blobs = [b"", b"abc", b"abcdefg"]  # len % 5 = 0, 3, 2 → frames 1, 4, 3
    out = multimodal.frame_sample_plan(_media(spark, blobs), every_n=10)
    by_media = {}
    for r in out.collect():
        by_media.setdefault(r.media_id, []).append(r.frame_idx)
    assert sorted(by_media[0]) == [0]
    assert sorted(by_media[1]) == [0, 10, 20, 30]
    assert sorted(by_media[2]) == [0, 10, 20]


def test_resize_plan_aspect_preserving_integer_dims(spark):
    blobs = [b"x", b"yy", b"zzz"]
    out = {r.media_id: r for r in multimodal.resize_plan(
        _media(spark, blobs), max_side=16
    ).collect()}
    for i, blob in enumerate(blobs):
        h = hashlib.sha256(blob).digest()
        sh, sw = 1 + h[0] % 64, 1 + h[1] % 64
        r = out[i]
        assert (r.src_height, r.src_width) == (sh, sw)
        if max(sh, sw) > 16:
            assert max(r.height, r.width) == 16
            assert r.height == max(sh * 16 // max(sh, sw), 1)
            assert r.width == max(sw * 16 // max(sh, sw), 1)
        else:
            assert (r.height, r.width) == (sh, sw)


def test_audio_chunk_plan_covers_duration_exactly(spark):
    blobs = [b"clip-a", b"clip-b", b"clip-c"]
    out = multimodal.audio_chunk_plan(_media(spark, blobs), chunk_ms=10_000)
    by_media = {}
    for r in out.collect():
        by_media.setdefault(r.media_id, []).append(r)
    for i, blob in enumerate(blobs):
        d = hashlib.sha256(blob).digest()
        dur = 1000 + ((d[0] * 256 + d[1]) % 59000)
        chunks = sorted(by_media[i], key=lambda r: r.chunk_idx)
        assert len(chunks) == -(-dur // 10_000)
        assert [c.start_ms for c in chunks] == [j * 10_000 for j in range(len(chunks))]
        assert chunks[-1].end_ms == dur  # last chunk clipped to duration
        for c in chunks[:-1]:
            assert c.end_ms - c.start_ms == 10_000


def _gradient_rgb(h, w):
    import numpy as np

    r = (np.arange(h * w).reshape(h, w) % 256).astype("uint8")
    g = ((np.arange(h * w).reshape(h, w) * 7) % 256).astype("uint8")
    b = ((np.arange(h * w).reshape(h, w) * 13) % 256).astype("uint8")
    return np.stack([r, g, b], axis=2)


def _ppm_bytes(img):
    return b"P6\n# synthetic\n%d %d\n255\n" % (img.shape[1], img.shape[0]) + img.tobytes()


def _pgm_bytes(gray):
    return b"P5\n%d %d\n255\n" % (gray.shape[1], gray.shape[0]) + gray.tobytes()


def _bmp_bytes(img, top_down=False):
    """Hand-rolled 24-bpp uncompressed BMP (BGR, 4-byte padded rows)."""
    import numpy as np

    h, w = img.shape[:2]
    stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, stride), dtype="uint8")
    bgr = img[:, :, ::-1]
    ordered = bgr if top_down else bgr[::-1]
    rows[:, : w * 3] = ordered.reshape(h, w * 3)
    pix = rows.tobytes()
    header_h = h if not top_down else -h
    fh = b"BM" + (14 + 40 + len(pix)).to_bytes(4, "little") + b"\0\0\0\0" + (54).to_bytes(4, "little")
    ih = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + header_h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(pix).to_bytes(4, "little")
        + b"\0" * 16
    )
    return fh + ih + pix


def _wav_bytes(n_samples, rate=16000, channels=1, bits=16):
    data = bytes(n_samples * channels * (bits // 8))
    byte_rate = rate * channels * (bits // 8)
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")
        + channels.to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + byte_rate.to_bytes(4, "little")
        + (channels * bits // 8).to_bytes(2, "little")
        + bits.to_bytes(2, "little")
    )
    dchunk = b"data" + len(data).to_bytes(4, "little") + data
    body = b"WAVE" + fmt + dchunk
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def test_real_decode_ppm_pgm_bmp_dims_and_luma_exact(spark):
    """fake=False REALLY decodes: dims and Rec.601 mean luma of
    synthesized PPM/PGM/BMP (bottom-up AND top-down) must equal the
    numpy oracle computed directly from the source arrays."""
    import numpy as np

    img = _gradient_rgb(5, 7)
    gray = (np.arange(30).reshape(5, 6) * 8 % 256).astype("uint8")
    blobs = [
        _ppm_bytes(img),
        _pgm_bytes(gray),
        _bmp_bytes(img),
        _bmp_bytes(img, top_down=True),
    ]
    expected = [
        (5, 7, multimodal.luma_mean(img)),
        (5, 6, multimodal.luma_mean(np.repeat(gray[:, :, None], 3, axis=2))),
        (5, 7, multimodal.luma_mean(img)),
        (5, 7, multimodal.luma_mean(img)),
    ]
    out = {
        r.media_id: r
        for r in multimodal.decode_image_features(
            _media(spark, blobs), fake=False
        ).collect()
    }
    for i, (h, w, luma) in enumerate(expected):
        assert (out[i].height, out[i].width) == (h, w), i
        assert out[i].mean_luma == pytest.approx(luma, abs=1e-12), i


def test_real_resize_images_nearest_neighbor_exact(spark):
    """resize_images downscales with floor(i·src/dst) nearest-neighbor
    indexing and re-encodes PPM: output must decode back to exactly the
    reference-resampled array, and small images pass through intact."""
    import numpy as np

    big = _gradient_rgb(48, 20)
    small = _gradient_rgb(6, 9)
    out = {
        r.media_id: r
        for r in multimodal.resize_images(
            _media(spark, [_ppm_bytes(big), _ppm_bytes(small)]), max_side=16
        ).collect()
    }
    # big: longest=48 → out 16×(20·16//48=6)
    assert (out[0].height, out[0].width) == (16, 6)
    rows = np.arange(16) * 48 // 16
    cols = np.arange(6) * 20 // 6
    ref = big[rows][:, cols]
    got = multimodal.decode_image(bytes(out[0].content))
    assert np.array_equal(got, ref)
    assert (out[1].height, out[1].width) == (6, 9)
    assert np.array_equal(
        multimodal.decode_image(bytes(out[1].content)), small
    )
    # resize_plan (dims-only) agrees with the real path on target shape
    plan = {
        r.media_id: r
        for r in multimodal.resize_plan(
            _media(spark, [_ppm_bytes(big), _ppm_bytes(small)]),
            max_side=16,
            fake=False,
        ).collect()
    }
    assert (plan[0].height, plan[0].width) == (16, 6)
    assert (plan[0].src_height, plan[0].src_width) == (48, 20)


def test_real_wav_chunking_exact_boundaries(spark):
    """fake=False probes real PCM WAV headers: 40000 samples at 16 kHz
    = 2500 ms → chunks [0,1000),[1000,2000),[2000,2500); stereo halves
    the duration per byte."""
    blobs = [_wav_bytes(40000), _wav_bytes(8000, rate=8000, channels=2)]
    assert multimodal.wav_duration_ms(blobs[0]) == 2500
    assert multimodal.wav_duration_ms(blobs[1]) == 1000
    out = multimodal.audio_chunk_plan(
        _media(spark, blobs), chunk_ms=1000, fake=False
    ).collect()
    by_media = {}
    for r in out:
        by_media.setdefault(r.media_id, []).append((r.start_ms, r.end_ms))
    assert sorted(by_media[0]) == [(0, 1000), (1000, 2000), (2000, 2500)]
    assert sorted(by_media[1]) == [(0, 1000)]


def test_compressed_or_garbage_raises_with_clear_message():
    # truncated JPEG-ish bytes hit the real JPEG path and fail on
    # structure (no SOF/SOS), not with a format-unsupported message
    with pytest.raises(ValueError, match="SOF|marker|truncated"):
        multimodal.decode_image(b"\xff\xd8\xff\xe0 jpeg-ish")
    # GIF is a SUPPORTED format since r8: garbage behind its signature
    # hits the real decoder and fails on structure, not support
    with pytest.raises(ValueError, match="GIF"):
        multimodal.decode_image(b"GIF89a not-a-real-gif")
    with pytest.raises(NotImplementedError, match="unsupported"):
        multimodal.decode_image(b"WEBPnope definitely-unsupported")
    with pytest.raises(NotImplementedError, match="PCM|RIFF"):
        multimodal.wav_duration_ms(b"ID3 mp3-ish")


# ------------------------------------------------------------- PNG codec
def _rand_img(shape, seed=0):
    import numpy as np

    return np.random.RandomState(seed).randint(0, 256, size=shape, dtype=np.uint8)


def test_png_roundtrip_all_filters_and_color_types():
    """encode → decode is identity for every scanline filter type and
    every encodable color type (gray replicated, alpha dropped)."""
    import numpy as np

    for shape, ct in [((13, 9, 3), 2), ((8, 5, 4), 6), ((6, 7), 0)]:
        img = _rand_img(shape, seed=ct)
        want = (
            img
            if ct == 2
            else (
                img[:, :, :3]
                if ct == 6
                else np.repeat(img[:, :, None], 3, axis=2)
            )
        )
        for filters in [None, [1], [2], [3], [4], [0, 1, 2, 3, 4]]:
            got = multimodal.decode_image(
                multimodal.encode_png(img, ct, filters)
            )
            assert got.shape == want.shape
            assert (got == want).all(), (shape, ct, filters)


def test_png_palette_and_gray_alpha_decode():
    """Hand-built palette (PLTE fancy-index) and gray+alpha PNGs decode
    to the expected RGB planes — color types encode_png doesn't write."""
    import struct
    import zlib

    import numpy as np

    def chunk(t, d):
        body = t + d
        return (
            struct.pack(">I", len(d))
            + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        )

    pal = _rand_img((16, 3), seed=1)
    idx = np.random.RandomState(2).randint(0, 16, size=(5, 6), dtype=np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(5))
    png = (
        multimodal.PNG_SIGNATURE
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 6, 5, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", pal.tobytes())
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert (multimodal.decode_image(png) == pal[idx]).all()

    ga = _rand_img((4, 3, 2), seed=3)
    raw = b"".join(b"\x00" + ga[y].tobytes() for y in range(4))
    png = (
        multimodal.PNG_SIGNATURE
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 4, 8, 4, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert (
        multimodal.decode_image(png)
        == __import__("numpy").repeat(ga[:, :, :1], 3, axis=2)
    ).all()


def test_png_rejects_unsupported_and_corrupt():
    import struct
    import zlib

    import numpy as np

    good = multimodal.encode_png(_rand_img((4, 4, 3)))

    def rebuild_ihdr(depth=8, interlace=0):
        ihdr = struct.pack(">IIBBBBB", 4, 4, depth, 2, 0, 0, interlace)
        body = b"IHDR" + ihdr
        patched = (
            good[:8]
            + struct.pack(">I", 13)
            + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
            + good[8 + 12 + 13 :]
        )
        return patched

    # sub-byte depths are now decoded for gray/palette; combined with
    # RGB (color type 2) they are INVALID per spec §11.2.2 — ValueError
    with pytest.raises(ValueError, match="gray/palette"):
        multimodal.decode_image(rebuild_ihdr(depth=4))
    with pytest.raises(ValueError, match="bit depth"):
        multimodal.decode_image(rebuild_ihdr(depth=3))
    with pytest.raises(ValueError, match="interlace"):
        multimodal.decode_image(rebuild_ihdr(interlace=7))
    with pytest.raises(ValueError, match="truncated|IEND"):
        multimodal.decode_image(good[:-8])
    # pixel payload shorter than H*(stride+1) → shape error, not garbage
    bad_raw = zlib.compress(b"\x00" * 10)

    def chunk(t, d):
        body = t + d
        return (
            struct.pack(">I", len(d))
            + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        )

    png = (
        multimodal.PNG_SIGNATURE
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", bad_raw)
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="pixel data"):
        multimodal.decode_image(png)


def test_png_decode_features_in_spark(spark):
    """PNG content flows through the same Arrow-batched feature path as
    PPM/BMP: known 2×2 image, exact dims + luma."""
    import numpy as np

    img = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]],
        dtype=np.uint8,
    )
    png = multimodal.encode_png(img, 2, [4, 1])
    out = multimodal.decode_image_features(
        _media(spark, [png]), fake=False
    ).collect()[0]
    want = (0.299 + 0.587 + 0.114 + 1.0) / 4
    assert (out.height, out.width) == (2, 2)
    assert abs(out.mean_luma - want) < 1e-12


def _chunk(t, d):
    import struct
    import zlib

    body = t + d
    return (
        struct.pack(">I", len(d))
        + body
        + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
    )


def test_png_adam7_interlaced_decode():
    """Adam7: each of the seven passes is an independently filtered
    sub-image; the test builds the interlaced stream by slicing the
    source with the spec's strides (independent of the decoder's
    scatter) and asserts the de-mosaic reproduces the image exactly —
    including edge shapes where late passes are empty."""
    import struct
    import zlib

    import numpy as np

    for shape in [(9, 7, 3), (1, 1, 3), (3, 2, 3), (16, 16, 3)]:
        img = _rand_img(shape, seed=shape[0])
        h, w, c = img.shape
        raw = bytearray()
        for x0, y0, dx, dy in [
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ]:
            sub = img[y0::dy, x0::dx]
            if sub.size == 0:
                continue
            for row in sub:
                raw.append(0)  # filter None
                raw.extend(row.astype(np.uint8).tobytes())
        png = (
            multimodal.PNG_SIGNATURE
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1))
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b"")
        )
        got = multimodal.decode_image(png)
        assert got.shape == img.shape and (got == img).all(), shape


def test_png_16bit_high_byte_decode():
    """16-bit RGB: big-endian samples reduce to their high byte."""
    import struct
    import zlib

    import numpy as np

    img16 = np.random.RandomState(5).randint(
        0, 65536, size=(4, 3, 3), dtype=np.uint16
    )
    raw = bytearray()
    for y in range(4):
        raw.append(0)
        raw.extend(img16[y].astype(">u2").tobytes())
    png = (
        multimodal.PNG_SIGNATURE
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 4, 16, 2, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )
    got = multimodal.decode_image(png)
    assert (got == (img16 >> 8).astype(np.uint8)).all()


def test_png_palette_index_out_of_range_is_value_error():
    import struct
    import zlib

    import numpy as np

    pal = np.zeros((4, 3), dtype=np.uint8)  # only indices 0..3 valid
    idx = np.array([[0, 1], [2, 9]], dtype=np.uint8)  # 9 out of range
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    png = (
        multimodal.PNG_SIGNATURE
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
        + _chunk(b"PLTE", pal.tobytes())
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="palette index"):
        multimodal.decode_image(png)


# ------------------------------------------------------------ JPEG codec
def test_jpeg_roundtrip_quality_100_tight_error_bound():
    """All-ones quant tables (quality 100): the only loss is FDCT/
    quantizer rounding, whose IDCT image is bounded by a few counts."""
    import numpy as np

    img = _rand_img((24, 40, 3), seed=7)
    enc = multimodal.encode_jpeg(img, quality=100, sampling=(1, 1))
    dec = multimodal.decode_image(enc)
    assert dec.shape == (24, 40, 3)
    err = np.abs(dec.astype(int) - img.astype(int))
    assert err.max() <= 4 and err.mean() <= 1.0


def test_jpeg_entropy_layer_is_bit_exact():
    """Huffman + byte stuffing + DC prediction are LOSSLESS: the
    decoder must return the exact quantized coefficients the encoder
    wrote, for arbitrary coefficient blocks and 4:2:0 interleaving."""
    import numpy as np

    rng = np.random.RandomState(11)
    yb = np.clip(rng.randint(-900, 900, (2, 4, 8, 8)), -1023, 1023).astype(
        np.int32
    )
    cb = np.clip(rng.randint(-200, 200, (1, 2, 8, 8)), -1023, 1023).astype(
        np.int32
    )
    cr = np.clip(rng.randint(-200, 200, (1, 2, 8, 8)), -1023, 1023).astype(
        np.int32
    )
    qt = np.full((8, 8), 5, np.int64)
    fix = multimodal.encode_jpeg_from_coeffs(
        [yb, cb, cr], [qt], 32, 16, [(2, 2), (1, 1), (1, 1)]
    )
    p = multimodal._parse_jpeg(fix)
    assert p["width"] == 32 and p["height"] == 16
    for got, want in zip(p["coeffs"], [yb, cb, cr]):
        assert np.array_equal(got, want)


def test_jpeg_restart_markers_reset_dc_prediction():
    import numpy as np

    rng = np.random.RandomState(5)
    blocks = np.clip(rng.randint(-500, 500, (1, 6, 8, 8)), -1023, 1023).astype(
        np.int32
    )
    qt = np.ones((8, 8), np.int64)
    with_rst = multimodal.encode_jpeg_from_coeffs(
        [blocks], [qt], 48, 8, [(1, 1)], restart_interval=2
    )
    without = multimodal.encode_jpeg_from_coeffs(
        [blocks], [qt], 48, 8, [(1, 1)]
    )
    assert b"\xff\xd0" in with_rst or b"\xff\xd1" in with_rst
    pa = multimodal._parse_jpeg(with_rst)
    pb = multimodal._parse_jpeg(without)
    assert np.array_equal(pa["coeffs"][0], blocks)
    assert np.array_equal(pb["coeffs"][0], blocks)
    # decoded pixels identical with or without restart intervals
    assert np.array_equal(
        multimodal.decode_image(with_rst), multimodal.decode_image(without)
    )


def test_jpeg_solid_blocks_decode_to_exact_dc_levels():
    """A DC-only block with quant step 8 decodes to exactly DC+128 —
    the closed-form IDCT of a uniform block (the property the
    multimodal_jpeg_decode oracle builds on)."""
    import numpy as np

    d = np.zeros((1, 2, 8, 8), np.int32)
    d[0, 0, 0, 0] = 37
    d[0, 1, 0, 0] = -96
    qt = np.full((8, 8), 8, np.int64)
    fix = multimodal.encode_jpeg_from_coeffs([d], [qt], 16, 8, [(1, 1)])
    img = multimodal.decode_image(fix)
    assert (img[:, :8] == 37 + 128).all()
    assert (img[:, 8:] == -96 + 128).all()
    assert (img[:, :, 0] == img[:, :, 1]).all()  # gray replicated


def test_jpeg_chroma_subsampling_color_conversion_exact():
    """Solid Y/Cb/Cr 4:2:0 MCU: upsampled chroma is constant, so each
    pixel must equal the closed-form JFIF YCbCr->RGB with floor(x+.5)."""
    import numpy as np

    yb = np.zeros((2, 2, 8, 8), np.int32)
    yb[:, :, 0, 0] = 52  # Y = 180
    cbb = np.zeros((1, 1, 8, 8), np.int32)
    cbb[0, 0, 0, 0] = -28  # Cb = 100
    crb = np.zeros((1, 1, 8, 8), np.int32)
    crb[0, 0, 0, 0] = 62  # Cr = 190
    qt = np.full((8, 8), 8, np.int64)
    fix = multimodal.encode_jpeg_from_coeffs(
        [yb, cbb, crb], [qt], 16, 16, [(2, 2), (1, 1), (1, 1)]
    )
    img = multimodal.decode_image(fix)
    y, cb, cr = 180.0, 100.0, 190.0

    def px(v):
        return int(min(255, max(0, np.floor(v + 0.5))))

    exp = (
        px(y + 1.402 * (cr - 128)),
        px(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)),
        px(y + 1.772 * (cb - 128)),
    )
    assert img.shape == (16, 16, 3)
    assert set(map(tuple, img.reshape(-1, 3))) == {exp}


def test_jpeg_422_and_smooth_roundtrip():
    import numpy as np

    xx, yy = np.meshgrid(np.arange(64), np.arange(48))
    smooth = np.stack(
        [
            (xx + yy) % 180 + 30,
            (2 * xx) % 180 + 30,
            (3 * yy) % 180 + 30,
        ],
        axis=2,
    ).astype(np.uint8)
    for sampling in [(1, 1), (2, 1), (1, 2), (2, 2)]:
        enc = multimodal.encode_jpeg(smooth, quality=95, sampling=sampling)
        dec = multimodal.decode_image(enc)
        assert dec.shape == smooth.shape
        # luma within a few counts on smooth content; chroma softer
        luma_err = np.abs(
            multimodal.luma_mean(dec) - multimodal.luma_mean(smooth)
        )
        assert luma_err < 0.01, (sampling, luma_err)


def test_jpeg_odd_dimensions_pad_and_crop():
    import numpy as np

    img = _rand_img((13, 21, 3), seed=3)
    enc = multimodal.encode_jpeg(img, quality=100, sampling=(2, 2))
    dec = multimodal.decode_image(enc)
    assert dec.shape == (13, 21, 3)


def test_jpeg_rejects_progressive_and_truncation():
    import numpy as np

    blocks = np.zeros((1, 1, 8, 8), np.int32)
    qt = np.ones((8, 8), np.int64)
    fix = multimodal.encode_jpeg_from_coeffs([blocks], [qt], 8, 8, [(1, 1)])
    with pytest.raises(NotImplementedError, match="baseline"):
        multimodal.decode_image(fix.replace(b"\xff\xc0", b"\xff\xc2", 1))
    with pytest.raises(ValueError, match="SOF|SOS|truncated|marker"):
        multimodal.decode_image(fix[:20])


def test_jpeg_zigzag_matches_spec_table():
    """The generated zigzag walk must equal the T.81 table (typed here
    from the spec as an independent witness)."""
    import numpy as np

    spec = [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ]
    assert multimodal._ZIGZAG.tolist() == spec


def test_jpeg_decode_features_in_spark(spark):
    """The JPEG path through Arrow-batched decode_image_features: dims
    + luma of per-row authored JPEGs, end to end in a real plan."""
    import numpy as np

    rows = []
    for i in range(6):
        rng = np.random.RandomState(i)
        img = rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)
        rows.append((i, "image", bytearray(multimodal.encode_jpeg(img, 100))))
    media = spark.createDataFrame(
        rows, "media_id long, kind string, content binary"
    )
    got = {
        r.media_id: (r.height, r.width)
        for r in multimodal.decode_image_features(media, fake=False).collect()
    }
    assert got == {i: (16, 16) for i in range(6)}


# ------------------------------------------------- sub-byte PNG depths
def _pack_row_bits(vals, depth):
    import numpy as np

    bits = []
    for v in vals:
        bits.extend([(int(v) >> (depth - 1 - i)) & 1 for i in range(depth)])
    while len(bits) % 8:
        bits.append(0)
    return np.packbits(np.array(bits, np.uint8)).tobytes()


def _sub_byte_png(w, h, depth, color_type, rows, plte=None, interlace=0):
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace)
    out = multimodal.PNG_SIGNATURE + _chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _chunk(b"PLTE", plte.tobytes())
    return out + _chunk(b"IDAT", zlib.compress(rows)) + _chunk(b"IEND", b"")


def test_png_sub_byte_gray_depths_exact_scaling():
    """1/2/4-bit gray: MSB-first unpack, pad bits dropped (odd width),
    exact left-bit-replication scaling 255/85/17."""
    import numpy as np

    rng = np.random.RandomState(0)
    for depth in (1, 2, 4):
        w, h = 11, 5
        img = rng.randint(0, 1 << depth, (h, w))
        raw = b"".join(
            b"\x00" + _pack_row_bits(img[y], depth) for y in range(h)
        )
        got = multimodal.decode_image(_sub_byte_png(w, h, depth, 0, raw))
        scale = 255 // ((1 << depth) - 1)
        assert (got[:, :, 0] == img * scale).all(), depth
        assert (got[:, :, 0] == got[:, :, 1]).all()


def test_png_sub_byte_palette_and_filters():
    import numpy as np

    rng = np.random.RandomState(1)
    pal = rng.randint(0, 256, (16, 3)).astype(np.uint8)
    idx = rng.randint(0, 16, (4, 7))
    raw = b"".join(b"\x00" + _pack_row_bits(idx[y], 4) for y in range(4))
    got = multimodal.decode_image(_sub_byte_png(7, 4, 4, 3, raw, pal))
    assert (got == pal[idx]).all()
    # Up filter on packed 1-bit rows (filters act on BYTES, spec §9)
    img = rng.randint(0, 2, (3, 16))
    rows = [_pack_row_bits(img[y], 1) for y in range(3)]
    raw = b"\x00" + rows[0]
    for y in (1, 2):
        prev = np.frombuffer(rows[y - 1], np.uint8)
        cur = np.frombuffer(rows[y], np.uint8)
        raw += b"\x02" + ((cur - prev) & 0xFF).astype(np.uint8).tobytes()
    got = multimodal.decode_image(_sub_byte_png(16, 3, 1, 0, raw))
    assert (got[:, :, 0] == img * 255).all()


def test_png_sub_byte_adam7_interlaced():
    import numpy as np

    rng = np.random.RandomState(2)
    w, h, depth = 9, 6, 2
    img = rng.randint(0, 4, (h, w))
    raw = bytearray()
    for x0, y0, dx, dy in multimodal._ADAM7:
        sub = img[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        for row in sub:
            raw += b"\x00" + _pack_row_bits(row, depth)
    got = multimodal.decode_image(
        _sub_byte_png(w, h, depth, 0, bytes(raw), interlace=1)
    )
    assert (got[:, :, 0] == img * 85).all()


def test_png_sub_byte_rgb_is_invalid_not_unimplemented():
    with pytest.raises(ValueError, match="gray/palette"):
        multimodal.decode_image(_sub_byte_png(4, 4, 4, 2, b"\x00" * 12))


def test_jpeg_truncation_and_noninterleaved_are_classified_errors():
    """Corrupt input is ValueError, out-of-scope-but-legal input is
    NotImplementedError — never a raw IndexError/KeyError escaping the
    decode_image contract (code-review r6 finding)."""
    import numpy as np

    with pytest.raises(ValueError, match="truncated|SOF|SOS"):
        multimodal.decode_image(b"\xff\xd8\xff")  # ends at a fill byte
    with pytest.raises(ValueError, match="truncated"):
        multimodal.decode_image(b"\xff\xd8\xff\xdb")  # marker, no length
    blocks = np.zeros((1, 1, 8, 8), np.int32)
    qt = np.ones((8, 8), np.int64)
    good = multimodal.encode_jpeg_from_coeffs([blocks] * 3, [qt], 8, 8,
                                              [(1, 1)] * 3)
    # rewrite SOS to claim 1 of 3 components (non-interleaved scan)
    i = good.index(b"\xff\xda")
    bad = (good[:i] + b"\xff\xda" + (4).to_bytes(2, "big") + b"\x01\x00"
           + b"\x00\x3f\x00" + good[i + 14:])
    with pytest.raises(NotImplementedError, match="non-interleaved"):
        multimodal.decode_image(bad)


def test_jpeg_decode_speed_is_not_per_bit():
    """The chunked bit reader + 8-bit fast Huffman table must keep a
    busy 256x256 image (~all-AC blocks) well under a second — the
    per-bit-list reader this replaced took multiple seconds here and
    made real-corpus JPEGs intractable."""
    import time

    import numpy as np

    rng = np.random.RandomState(0)
    img = rng.randint(0, 256, (256, 256, 3)).astype(np.uint8)
    enc = multimodal.encode_jpeg(img, quality=90, sampling=(2, 2))
    t0 = time.perf_counter()
    dec = multimodal.decode_image(enc)
    dt = time.perf_counter() - t0
    assert dec.shape == (256, 256, 3)
    assert dt < 2.0, f"JPEG decode too slow: {dt:.2f}s"


# ------------------------------------------------------------------ GIF
def _gif_pal():
    import numpy as np

    i = np.arange(256, dtype=np.int64)
    return np.stack([i, 255 - i, (i * 37) % 256], axis=1).astype(np.uint8)


def test_gif_roundtrip_plain_and_interlaced():
    import numpy as np

    rng = np.random.RandomState(42)
    pal = _gif_pal()
    for shape in [(1, 1), (5, 4), (17, 13), (64, 64), (100, 3)]:
        for interlace in (False, True):
            idx = rng.randint(0, 256, shape).astype(np.uint8)
            enc = multimodal.encode_gif(idx, pal, interlace=interlace)
            assert enc[:6] == b"GIF89a" and enc[-1:] == b"\x3b"
            out = multimodal.decode_image(enc)
            assert out.shape == (*shape, 3)
            assert (out == pal[idx]).all(), (shape, interlace)


def test_gif_lzw_width_growth_and_table_reset():
    """A 200x200 random image pushes the code table through every
    width (9->12 bits) and past 4096 entries, forcing the in-stream
    CLEAR/reset path; a long-run image exercises the code==len(table)
    (KwKwK) special case."""
    import numpy as np

    rng = np.random.RandomState(7)
    pal = _gif_pal()
    idx = rng.randint(0, 256, (200, 200)).astype(np.uint8)
    assert (multimodal.decode_image(multimodal.encode_gif(idx, pal))
            == pal[idx]).all()
    runs = np.tile(np.arange(4, dtype=np.uint8), (300, 75))
    assert (
        multimodal.decode_image(multimodal.encode_gif(runs, pal, True))
        == pal[runs]
    ).all()


def test_gif_extension_blocks_are_skipped():
    """GIF89a graphic-control + comment extensions before the image
    descriptor must be walked over, not choked on (real-world GIFs
    carry them; our encoder doesn't write them)."""
    import numpy as np

    pal = _gif_pal()
    idx = np.arange(16, dtype=np.uint8).reshape(4, 4)
    enc = multimodal.encode_gif(idx, pal)
    head_len = 13 + 768  # header + LSD + global color table
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    comment = b"\x21\xfe\x05hello\x00"
    spliced = enc[:head_len] + gce + comment + enc[head_len:]
    assert (multimodal.decode_image(spliced) == pal[idx]).all()


def test_gif_corrupt_inputs_raise_value_error():
    import numpy as np
    import pytest as _pt

    pal = _gif_pal()
    idx = np.arange(64, dtype=np.uint8).reshape(8, 8)
    enc = multimodal.encode_gif(idx, pal)
    with _pt.raises(ValueError):  # bad signature (not NotImplemented:
        multimodal._decode_gif(b"GIF00a" + enc[6:])
    with _pt.raises(ValueError):  # truncated mid-stream
        multimodal.decode_image(enc[: len(enc) // 2])
    with _pt.raises(ValueError):  # descriptor lies about dimensions
        import struct

        hacked = bytearray(enc)
        # image descriptor starts after header+LSD+GCT; w at +5
        off = 13 + 768
        hacked[off + 5 : off + 7] = struct.pack("<H", 4)  # w 8 -> 4
        multimodal.decode_image(bytes(hacked))
    with _pt.raises(ValueError):  # unterminated image data
        multimodal.decode_image(enc[:-2])


def test_gif_unknown_format_still_raises_not_implemented():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"RIFFxxxxWEBPVP8 ")


# ------------------------------------------------------------------ WAV PCM
def test_wav_pcm_features_roundtrip_matches_numpy():
    import numpy as np

    rng = np.random.RandomState(3)
    for n in (0, 1, 2, 33, 1000):
        s = rng.randint(-32768, 32768, n).astype("<i2")
        wav = multimodal.encode_wav(s, rate=8000)
        ns, zc, energy, peak = multimodal.wav_pcm_features(wav)
        s64 = s.astype(np.int64)
        nonneg = s64 >= 0
        assert ns == n
        assert zc == int(np.count_nonzero(nonneg[1:] != nonneg[:-1]))
        assert energy == int((s64 * s64).sum())
        assert peak == (int(np.abs(s64).max()) if n else 0)


def test_wav_pcm_features_walks_unknown_chunks_and_odd_padding():
    """A LIST chunk with an odd size before the data chunk exercises
    word-aligned chunk skipping — real recorders emit these."""
    import numpy as np
    import struct

    s = np.array([100, -200, 300], dtype="<i2")
    wav = bytearray(multimodal.encode_wav(s))
    # splice an odd-sized junk chunk right after "WAVE"
    junk = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # pad byte
    out = bytes(wav[:12]) + junk + bytes(wav[12:])
    out = out[:4] + struct.pack("<I", len(out) - 8) + out[8:]
    assert multimodal.wav_pcm_features(out)[0] == 3


def test_wav_pcm_features_contracts():
    import numpy as np
    import struct

    with pytest.raises(NotImplementedError):  # not RIFF
        multimodal.wav_pcm_features(b"OggS" + b"\x00" * 40)
    s = np.array([1, 2], dtype="<i2")
    wav = bytearray(multimodal.encode_wav(s))
    # format 1 -> 3 (IEEE float): politely rejected, not mis-decoded
    fmt_off = wav.index(b"fmt ") + 8
    hacked = bytearray(wav)
    hacked[fmt_off : fmt_off + 2] = struct.pack("<H", 3)
    with pytest.raises(NotImplementedError):
        multimodal.wav_pcm_features(bytes(hacked))
    with pytest.raises(ValueError):  # truncated data chunk
        multimodal.wav_pcm_features(bytes(wav[:-3]))
