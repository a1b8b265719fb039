"""Multimodal decode queries: image, PNG, JPEG, GIF and WAV codecs,
frames, resizing and audio chunks."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    multimodal,
)

from catalog import query
from catalog._common import _q, _sql_q, _t


def _docs_as_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents re-cast as a media table: text bytes stand in for image
    content (the container has no real image data; the plumbing —
    binary column, Arrow batching, schema — is identical)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("text").cast("binary").alias("content"),
    )


def _sha_hex_byte(i: int) -> str:
    """DuckDB expression: byte `i` of a hex sha string named `sha` as an
    integer (two hex chars → strpos arithmetic, no hex-cast needed)."""
    hi = f"(strpos('0123456789abcdef', substr(sha, {2 * i + 1}, 1)) - 1)"
    lo = f"(strpos('0123456789abcdef', substr(sha, {2 * i + 2}, 1)) - 1)"
    return f"({hi} * 16 + {lo})"


@query(f"""
            WITH s AS (
                SELECT doc_id AS media_id, sha256(text) AS sha FROM documents
            ), b AS (
                SELECT media_id, sha,
                       {_sha_hex_byte(0)} AS b0,
                       {_sha_hex_byte(1)} AS b1,
                       {_sha_hex_byte(2)} AS b2
                FROM s
            )
            SELECT media_id,
                   CAST(1 + (b0 % 64) AS INT) AS height,
                   CAST(1 + (b1 % 64) AS INT) AS width,
                   FLOOR((b2 / 255.0) * 1000000 + 0.5) / 1000000.0 AS mean_luma,
                   sha AS content_sha
            FROM b
        """)
def q_multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary media
    columns; the deterministic fake decoder (sha256-derived dims) makes
    this fully oracle-checkable in DuckDB."""
    media = _docs_as_media(spark, sf_dir)
    feats = multimodal.decode_image_features(media, fake=True)
    return feats.select(
        "media_id",
        "height",
        "width",
        _q(F.col("mean_luma"), 6).alias("mean_luma"),
        "content_sha",
    )


def _pix_hex_byte(pos: str) -> str:
    """DuckDB expression: byte value at 1-based char offset `pos` of a
    lowercase hex string named `hs` (two hex chars → strpos arithmetic)."""
    hi = f"(strpos('0123456789abcdef', substr(hs, {pos}, 1)) - 1)"
    lo = f"(strpos('0123456789abcdef', substr(hs, ({pos}) + 1, 1)) - 1)"
    return f"({hi} * 16 + {lo})"


@query(f"""
            WITH px AS (
                SELECT doc_id AS media_id,
                       lower(hex(unhex(md5(text)) || unhex(md5(text || 'x'))
                             || unhex(md5(text || 'y')))) AS hs
                FROM documents WHERE doc_id < 200
            ), b AS (
                SELECT media_id,
                       {_pix_hex_byte("(p-1)*6+1")} AS r,
                       {_pix_hex_byte("(p-1)*6+3")} AS g,
                       {_pix_hex_byte("(p-1)*6+5")} AS bl
                FROM px, generate_series(1, 16) AS t(p)
            )
            SELECT media_id,
                   CAST(4 AS INT) AS height,
                   CAST(4 AS INT) AS width,
                   {_sql_q('SUM(0.299*r + 0.587*g + 0.114*bl)/16/255', 6)}
                       AS mean_luma
            FROM b GROUP BY media_id
        """)
def q_multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL (non-fake) image decoder under the differential gate:
    deterministic 4×4 RGB PPM images are synthesized from the documents
    table (pixel bytes = three chained md5 digests of the text), decoded
    by the pure-numpy `decode_image` path inside Arrow-batched
    mapInPandas, and the Rec.601 mean luma is recomputed by DuckDB from
    the SAME bytes via hex-digit arithmetic — a hash match proves real
    header parsing + pixel math, not plumbing."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pix = F.concat(
        F.unhex(F.md5("text")),
        F.unhex(F.md5(F.concat(F.col("text"), F.lit("x")))),
        F.unhex(F.md5(F.concat(F.col("text"), F.lit("y")))),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.concat(F.lit(b"P6\n4 4\n255\n"), pix).alias("content"),
    )
    feats = multimodal.decode_image_features(media, fake=False)
    return feats.select(
        "media_id",
        "height",
        "width",
        _q(F.col("mean_luma"), 6).alias("mean_luma"),
    )


@query(f"""
            WITH px AS (
                SELECT doc_id AS media_id,
                       lower(hex(unhex(md5(text)) || unhex(md5(text || 'x'))
                             || unhex(md5(text || 'y'))
                             || unhex(md5(text || 'z')))) AS hs
                FROM documents WHERE doc_id < 200
            ), b AS (
                SELECT media_id,
                       {_pix_hex_byte("(p-1)*6+1")} AS r,
                       {_pix_hex_byte("(p-1)*6+3")} AS g,
                       {_pix_hex_byte("(p-1)*6+5")} AS bl
                FROM px, generate_series(1, 20) AS t(p)
            )
            SELECT media_id,
                   CAST(5 AS INT) AS height,
                   CAST(4 AS INT) AS width,
                   {_sql_q('SUM(0.299*r + 0.587*g + 0.114*bl)/20/255', 6)}
                       AS mean_luma
            FROM b GROUP BY media_id
        """)
def q_multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-stdlib PNG decoder under the differential gate — the
    full compressed-format path, not plumbing: 5×4 RGB images are
    synthesized from the documents table (pixels = four chained md5
    digests of the text, JVM-side), packed into REAL PNGs inside
    Arrow-batched mapInPandas with the five scanline filters cycled
    row-by-row (None/Sub/Up/Average/Paeth — every filter exercised in
    every image), zlib-deflated, then decoded back by
    `multimodal.decode_image` (chunk walk → inflate → numpy defilter)
    and reduced to Rec.601 mean luma. DuckDB recomputes the luma from
    the SAME md5 bytes via hex-digit arithmetic, so a hash match proves
    header parsing + inflate + all five defilters + pixel math are
    exact end to end."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pix = F.concat(
        F.unhex(F.md5("text")),
        F.unhex(F.md5(F.concat(F.col("text"), F.lit("x")))),
        F.unhex(F.md5(F.concat(F.col("text"), F.lit("y")))),
        F.unhex(F.md5(F.concat(F.col("text"), F.lit("z")))),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        pix.alias("content"),
    )

    def _to_png(it):
        import numpy as _np

        for pdf in it:
            pdf = pdf.copy()
            pdf["content"] = pdf["content"].map(
                lambda b: multimodal.encode_png(
                    _np.frombuffer(bytes(b), _np.uint8, 60).reshape(5, 4, 3),
                    color_type=2,
                    filters=[0, 1, 2, 3, 4],
                )
            )
            yield pdf

    png_media = media.mapInPandas(
        _to_png, "media_id long, kind string, content binary"
    )
    feats = multimodal.decode_image_features(png_media, fake=False)
    return feats.select(
        "media_id",
        "height",
        "width",
        _q(F.col("mean_luma"), 6).alias("mean_luma"),
    )


def _jpeg_k_case() -> str:
    """DuckDB CASE mapping column index `j` to the AC(0,1) cosine term
    of the JPEG fixture: k_j = (48/4)·C(1)·C(0)·cos((2j+1)π/16) =
    (12/√2)·cos((2j+1)π/16), inlined as full-precision literals (the
    LSH-planes pattern) so the oracle reproduces the IDCT exactly."""
    import math

    arms = " ".join(
        f"WHEN {j} THEN {12.0 / math.sqrt(2.0) * math.cos((2 * j + 1) * math.pi / 16.0)!r}"
        for j in range(8)
    )
    return f"CASE j {arms} END"


@query(f"""
            WITH px AS (
                SELECT doc_id AS media_id, md5(text) AS hs
                FROM documents WHERE doc_id < 200
            ), cell AS (
                -- one row per (luma block row by, block col bx, column j):
                -- 8 image rows each; Y = base + k_j from AC(0,1), chroma
                -- solid per 16x16 MCU (cx = bx // 2)
                SELECT media_id,
                       32 + ({_pix_hex_byte("(by*4+bx)*2+1")} % 192)
                           + ({_jpeg_k_case()}) AS yv,
                       32 + ({_pix_hex_byte("(8 + bx//2)*2+1")} % 192) AS cb,
                       32 + ({_pix_hex_byte("(10 + bx//2)*2+1")} % 192) AS cr
                FROM px,
                     generate_series(0, 1) AS t1(by),
                     generate_series(0, 3) AS t2(bx),
                     generate_series(0, 7) AS t3(j)
            ), rgb AS (
                SELECT media_id,
                       LEAST(255, GREATEST(0,
                           FLOOR(yv + 1.402 * (cr - 128) + 0.5))) AS r,
                       LEAST(255, GREATEST(0,
                           FLOOR(yv - 0.344136 * (cb - 128)
                                    - 0.714136 * (cr - 128) + 0.5))) AS g,
                       LEAST(255, GREATEST(0,
                           FLOOR(yv + 1.772 * (cb - 128) + 0.5))) AS bl
                FROM cell
            )
            SELECT media_id,
                   CAST(16 AS INT) AS height,
                   CAST(32 AS INT) AS width,
                   CAST(SUM(8 * (299 * CAST(r AS BIGINT)
                                 + 587 * CAST(g AS BIGINT)
                                 + 114 * CAST(bl AS BIGINT))) AS BIGINT)
                       AS luma_milli
            FROM rgb GROUP BY media_id
        """)
def q_multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-stdlib baseline JPEG decoder under the differential
    gate — Huffman entropy decode, dequantization, float IDCT, 4:2:0
    chroma upsampling, restart-marker handling, and JFIF YCbCr→RGB all
    proven, not just plumbing. Deterministic 32×16 4:2:0 JPEGs are
    authored per document from md5(text): each of the 8 luma blocks is
    a DC level (byte-derived) plus a fixed AC(0,1) coefficient — so
    the AC run-length path and the column-cosine IDCT are exercised in
    every block — and each 16×16 MCU carries solid Cb/Cr blocks
    (byte-derived), with restart_interval=1 so the two MCUs are
    separated by a real RST marker. The decode is exactly predictable:
    Y(row, col) = base + k(col%8) with k the eight AC(0,1) cosine
    values, chroma constant per MCU, RGB = floor(Y + c·(C−128) + 0.5)
    clamped — so DuckDB recomputes the Rec.601 luma from the SAME md5
    bytes with the cosine constants inlined as literals (the
    LSH-planes pattern). The luma is reported as the INTEGER milli-sum
    Σ(299R+587G+114B) over all 512 pixels — the float mean can land
    exactly on a micro-quantization half-boundary (observed at sf0.01:
    0.3544125), where Spark's and DuckDB's last-ulp disagreement flips
    the tick; the BIGINT sum has no boundary to sit on. A hash match
    proves the full compressed-format path end to end. Ref: the
    reference ships crawled images as opaque blobs; real corpora are
    majority-JPEG."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.unhex(F.md5("text")).alias("content"),
    )

    def _to_jpeg(it):
        import numpy as _np

        def author(b: bytes) -> bytes:
            m = bytes(b)
            qt = _np.full((8, 8), 16, _np.int64)
            qt[0, 0] = 8
            qt[0, 1] = 8
            yb = _np.zeros((2, 4, 8, 8), _np.int32)
            for by in range(2):
                for bx in range(4):
                    yb[by, bx, 0, 0] = 32 + (m[by * 4 + bx] % 192) - 128
                    yb[by, bx, 0, 1] = 6  # AC(0,1): dequant 6*8 = 48
            cbb = _np.zeros((1, 2, 8, 8), _np.int32)
            crb = _np.zeros((1, 2, 8, 8), _np.int32)
            for cx in range(2):
                cbb[0, cx, 0, 0] = 32 + (m[8 + cx] % 192) - 128
                crb[0, cx, 0, 0] = 32 + (m[10 + cx] % 192) - 128
            return multimodal.encode_jpeg_from_coeffs(
                [yb, cbb, crb],
                [qt],
                32,
                16,
                [(2, 2), (1, 1), (1, 1)],
                restart_interval=1,
            )

        for pdf in it:
            pdf = pdf.copy()
            pdf["content"] = pdf["content"].map(author)
            yield pdf

    jpeg_media = media.mapInPandas(
        _to_jpeg, "media_id long, kind string, content binary"
    )
    feats = multimodal.decode_image_features(jpeg_media, fake=False)
    # mean_luma = Σ(0.299R+0.587G+0.114B)/512/255 in float64; scaling
    # back by 512·255·1000 reconstructs the exact BIGINT milli-sum
    # (accumulated float error ≲1e-7 ≪ 0.5, so round() is exact)
    return feats.select(
        "media_id",
        "height",
        "width",
        F.round(F.col("mean_luma") * (512 * 255 * 1000))
        .cast("long")
        .alias("luma_milli"),
    )


@query(f"""
            WITH px AS (
                SELECT doc_id AS media_id,
                       lower(hex(unhex(md5(text)) || unhex(md5(text || 'x'))
                             || unhex(md5(text || 'y'))
                             || unhex(md5(text || 'z')))) AS hs
                FROM documents WHERE doc_id < 200
            ), b AS (
                SELECT media_id, {_pix_hex_byte("(p-1)*2+1")} AS i
                FROM px, generate_series(1, 64) AS t(p)
            )
            SELECT media_id,
                   CAST(8 AS INT) AS height,
                   CAST(8 AS INT) AS width,
                   CAST(SUM(299 * i + 587 * (255 - i)
                            + 114 * ((i * 37) % 256)) AS BIGINT)
                       AS luma_milli
            FROM b GROUP BY media_id
        """)
def q_multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-stdlib GIF decoder under the differential gate — the
    full palette-format path: 8×8 palette images are synthesized from
    the documents table (indices = four chained md5 digests, JVM-side),
    packed into REAL interlaced GIF89a files inside Arrow-batched
    mapInPandas (variable-width LZW incl. the giflib one-early width
    rule, ≤255-byte sub-blocks, 4-pass interlace), decoded back by
    `multimodal.decode_image` (header walk → LZW → de-interlace →
    palette resolve) and reduced to the Rec.601 integer luma milli-sum
    (the JPEG lesson: no float mean to sit on a quantization
    boundary). The palette is the closed-form (i, 255−i, 37·i mod 256),
    so DuckDB recomputes the luma from the SAME md5 bytes with pure
    hex-digit arithmetic — a hash match proves LZW, interlace, and
    palette resolution end to end."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pix = F.concat(
        F.unhex(F.md5("text")),
        F.unhex(F.md5(F.concat(F.col("text"), F.lit("x")))),
        F.unhex(F.md5(F.concat(F.col("text"), F.lit("y")))),
        F.unhex(F.md5(F.concat(F.col("text"), F.lit("z")))),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        pix.alias("content"),
    )

    def _to_gif(it):
        import numpy as _np

        i = _np.arange(256, dtype=_np.int64)
        pal = _np.stack(
            [i, 255 - i, (i * 37) % 256], axis=1
        ).astype(_np.uint8)
        for pdf in it:
            pdf = pdf.copy()
            pdf["content"] = pdf["content"].map(
                lambda b: multimodal.encode_gif(
                    _np.frombuffer(bytes(b), _np.uint8, 64).reshape(8, 8),
                    pal,
                    interlace=True,
                )
            )
            yield pdf

    gif_media = media.mapInPandas(
        _to_gif, "media_id long, kind string, content binary"
    )
    feats = multimodal.decode_image_features(gif_media, fake=False)
    # mean_luma = Σ(0.299R+0.587G+0.114B)/64/255; scaling back by
    # 64·255·1000 reconstructs the exact BIGINT milli-sum (accumulated
    # float error ≲1e-8 ≪ 0.5, so round() is exact)
    return feats.select(
        "media_id",
        "height",
        "width",
        F.round(F.col("mean_luma") * (64 * 255 * 1000))
        .cast("long")
        .alias("luma_milli"),
    )


@query(f"""
            WITH px AS (
                SELECT doc_id AS media_id,
                       lower(hex(unhex(md5(text)) || unhex(md5(text || 'x'))
                             || unhex(md5(text || 'y'))
                             || unhex(md5(text || 'z')))) AS hs
                FROM documents WHERE doc_id < 200
            ), smp AS (
                SELECT media_id, j,
                       CASE WHEN {_pix_hex_byte("j*4+3")} >= 128
                            THEN {_pix_hex_byte("j*4+3")} * 256
                                 + {_pix_hex_byte("j*4+1")} - 65536
                            ELSE {_pix_hex_byte("j*4+3")} * 256
                                 + {_pix_hex_byte("j*4+1")}
                       END AS s
                FROM px, generate_series(0, 31) AS t(j)
            ), zc AS (
                SELECT a.media_id,
                       SUM(CASE WHEN (a.s >= 0) <> (b.s >= 0)
                                THEN 1 ELSE 0 END) AS z
                FROM smp a JOIN smp b
                  ON b.media_id = a.media_id AND b.j = a.j + 1
                GROUP BY a.media_id
            )
            SELECT s.media_id,
                   CAST(COUNT(*) AS INT) AS n_samples,
                   CAST(MAX(z.z) AS INT) AS zero_crossings,
                   CAST(SUM(CAST(s.s AS BIGINT) * s.s) AS BIGINT)
                       AS energy,
                   CAST(MAX(ABS(s.s)) AS INT) AS peak
            FROM smp s JOIN zc z ON z.media_id = s.media_id
            GROUP BY s.media_id
            ORDER BY s.media_id
        """)
def q_multimodal_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM WAV sample analysis under the differential gate — the
    audio analog of the PNG/JPEG/GIF codec gates: 32 little-endian
    int16 samples are synthesized per document from four chained md5
    digests, wrapped into real RIFF/WAVE containers
    (multimodal.encode_wav) inside Arrow-batched mapInPandas, then the
    chunk walker + sample reader (multimodal.wav_pcm_features)
    recovers them and reduces to the integer silence/clipping gate
    trio: zero crossings (sign-flip count, sign = s ≥ 0), energy
    (Σ s², exact BIGINT), and peak |s|. DuckDB recomputes everything
    from the SAME md5 hex digits with two's-complement arithmetic —
    a hash match proves the RIFF walk, word alignment, int16 LE
    decode, and the feature math end to end."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pcm = F.concat(
        F.unhex(F.md5("text")),
        F.unhex(F.md5(F.concat(F.col("text"), F.lit("x")))),
        F.unhex(F.md5(F.concat(F.col("text"), F.lit("y")))),
        F.unhex(F.md5(F.concat(F.col("text"), F.lit("z")))),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        pcm.alias("content"),
    )

    def _to_wav(it):
        import numpy as _np

        for pdf in it:
            pdf = pdf.copy()
            pdf["content"] = pdf["content"].map(
                lambda b: multimodal.encode_wav(
                    _np.frombuffer(bytes(b), "<i2", 32)
                )
            )
            yield pdf

    wav_media = media.mapInPandas(
        _to_wav, "media_id long, kind string, content binary"
    )
    return multimodal.audio_pcm_features(wav_media).orderBy("media_id")


@query("""
            SELECT doc_id AS media_id, CAST(r.range * 30 AS INT) AS frame_idx
            FROM documents, range(5) r
            WHERE r.range < 1 + octet_length(CAST(text AS BLOB)) % 5
        """)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized frame-explosion plan (one row per sampled frame)."""
    media = _docs_as_media(spark, sf_dir)
    return multimodal.frame_sample_plan(media, every_n=30)


@query(f"""
            WITH s AS (
                SELECT doc_id AS media_id, sha256(text) AS sha FROM documents
            ), d AS (
                SELECT media_id,
                       1 + ({_sha_hex_byte(0)} % 64) AS h,
                       1 + ({_sha_hex_byte(1)} % 64) AS w
                FROM s
            )
            SELECT media_id,
                   CAST(h AS INT) AS src_height, CAST(w AS INT) AS src_width,
                   CAST(GREATEST(CASE WHEN GREATEST(h, w) > 32
                        THEN (h * 32) // GREATEST(h, w) ELSE h END, 1) AS INT)
                       AS height,
                   CAST(GREATEST(CASE WHEN GREATEST(h, w) > 32
                        THEN (w * 32) // GREATEST(h, w) ELSE w END, 1) AS INT)
                       AS width
            FROM d
        """)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize plan (integer-exact target dims over the
    fake decoder's source dims — oracle-checkable end to end)."""
    media = _docs_as_media(spark, sf_dir)
    return multimodal.resize_plan(media, max_side=32)


@query(f"""
            WITH s AS (
                SELECT doc_id AS media_id, sha256(text) AS sha FROM documents
            ), d AS (
                SELECT media_id,
                       1000 + (({_sha_hex_byte(0)} * 256 + {_sha_hex_byte(1)})
                               % 59000) AS dur
                FROM s
            )
            SELECT media_id,
                   CAST(r.range AS INT) AS chunk_idx,
                   CAST(r.range * 10000 AS INT) AS start_ms,
                   CAST(LEAST(r.range * 10000 + 10000, dur) AS INT) AS end_ms
            FROM d, range(10) r
            WHERE r.range * 10000 < dur
        """)
def q_multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunking plan (fixed 10 s windows over sha-derived fake
    durations — oracle-checkable end to end, one row per chunk)."""
    media = _docs_as_media(spark, sf_dir)
    return multimodal.audio_chunk_plan(media, chunk_ms=10_000)
