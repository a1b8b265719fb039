"""Perceptual near-dup queries over media: image dHash, audio contours,
video frames, MIH search and cross-modal dedup."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.fsutil import (
    materialize,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions import (
    text as textf,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions.text import (
    split_words,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions.vectors import dot as vectors_dot
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.operators import (
    dedup,
    multimodal,
    quality,
    similarity,
)
from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.streaming import pipeline as streaming

from catalog import query
from catalog._common import _t
from catalog.media import _pix_hex_byte


def _image_dhash_oracle_sql() -> str:
    """DuckDB twin of q_image_dhash_near_dup: pixels from the same md5
    hex digits (mod 192, +32 shift / (0,0)→255 hot-spot variants), the
    8×8 adjacent-luma comparisons via a self-join on pixel index, chunk
    packing with integer shifts, the 4-chunk pigeonhole candidate set
    as its relational shadow (OR of chunk equalities), and the exact
    xor-popcount hamming verify."""
    _, ham, ors = _chunk_pair_sql()
    return f"""
        WITH {_dhash_sigs_ctes()},
        cand AS (
            SELECT a.media_id AS id_a, b.media_id AS id_b,
                   CAST({ham} AS BIGINT) AS hamming
            FROM sigs a JOIN sigs b
              ON a.media_id < b.media_id AND ({ors}))
        SELECT id_a, id_b, hamming FROM cand
        WHERE hamming <= 3
        ORDER BY id_a, id_b
    """


@query(_image_dhash_oracle_sql)
def q_image_dhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup end to end through the REAL decoder:
    deterministic 9×8 grayscale PGMs are authored per document (pixels
    = five chained md5 digests of the text, mod 192), with PLANTED
    near-duplicates — a +32 uniform-brightness copy for doc_id < 50
    (dHash is gradient-based, so the shifted copy hashes IDENTICALLY —
    the invariance that makes it a near-dup detector) and a one-pixel
    hot-spot copy for 50 ≤ doc_id < 100 (pixel (0,0) → 255 flips at
    most bit (0,0): hamming ≤ 1). Each image round-trips the pure-numpy
    P5 decoder (`multimodal.decode_image`) inside Arrow-batched
    mapInPandas, hashes to four 16-bit dHash chunks on the integer
    Rec.601 milli-luma grid (`image_dhash_chunks`), and pairs come from
    the 4-chunk pigeonhole join + exact xor-popcount verify
    (`dhash_near_dup_pairs` — any hamming ≤ 3 pair agrees on ≥1 chunk;
    never an all-pairs scan). The DuckDB twin recomputes pixels from
    the SAME md5 hex digits, replays the comparisons, chunk packing,
    pigeonhole candidate set, and popcount verify — a hash match proves
    decoder + hash + join semantics, not plumbing."""
    sigs = multimodal.image_dhash_chunks(_dhash_media(spark, sf_dir))
    return multimodal.dhash_near_dup_pairs(sigs).orderBy("id_a", "id_b")


def _dhash_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic 9×8 PGM media fixture shared by the dHash
    near-dup and MIH-search queries: originals for doc_id < 200, a +32
    uniform-brightness copy (media 1000+id) for doc_id < 50, a
    one-pixel hot-spot copy (media 2000+id) for 50 ≤ doc_id < 100 —
    pixels from the same five chained md5 digests the SQL twins
    replay."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    base = docs.select("doc_id", _md5_chain("").alias("m"))
    variants = (
        base.select(
            F.col("doc_id").alias("media_id"),
            F.lit("orig").alias("variant"),
            "m",
        )
        .unionByName(
            base.filter(F.col("doc_id") < 50).select(
                (F.col("doc_id") + 1000).alias("media_id"),
                F.lit("shift").alias("variant"),
                "m",
            )
        )
        .unionByName(
            base.filter(
                (F.col("doc_id") >= 50) & (F.col("doc_id") < 100)
            ).select(
                (F.col("doc_id") + 2000).alias("media_id"),
                F.lit("noise").alias("variant"),
                "m",
            )
        )
    )

    def _author(it):
        import pandas as _pd

        for pdf in it:
            content = []
            for m, v in zip(pdf["m"], pdf["variant"]):
                px = bytearray(x % 192 for x in bytes(m)[:72])
                if v == "shift":
                    px = bytearray(x + 32 for x in px)
                elif v == "noise":
                    px[0] = 255
                content.append(b"P5\n9 8\n255\n" + bytes(px))
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "content": content,
                }
            )

    return variants.mapInPandas(_author, "media_id long, content binary")


def _chunk_pair_sql() -> tuple[str, str, str]:
    """Shared SQL snippets for the 4×16-bit-chunk pigeonhole twins
    (image dHash + audio energy contour): chunk packing from a (bi,
    bit) table, xor-popcount hamming over aliased sigs a/b, and the
    chunk-equality OR that shadows the banded candidate join."""
    chunk_sums = ", ".join(
        f"CAST(SUM(CASE WHEN bi // 16 = {k} THEN bit * (1 << (bi % 16)) "
        f"ELSE 0 END) AS INT) AS c{k}"
        for k in range(4)
    )
    ham = " + ".join(f"bit_count(xor(a.c{k}, b.c{k}))" for k in range(4))
    ors = " OR ".join(f"a.c{k} = b.c{k}" for k in range(4))
    return chunk_sums, ham, ors


def _dhash_sigs_ctes() -> str:
    """The shared CTE prefix of the dHash twins (near-dup pairs + MIH
    search): the media fixture's pixels from the same md5 hex digits
    (+32 shift / (0,0)→255 hot-spot variants), the 8×8 adjacent-luma
    comparisons via a self-join on pixel index, and per-media chunk
    packing. Emits px/med/pix/bits/sigs."""
    chunk_sums, _, _ = _chunk_pair_sql()
    return f"""px AS (
            SELECT doc_id,
                   lower(hex(unhex(md5(text)) || unhex(md5(text || 'x'))
                         || unhex(md5(text || 'y')) || unhex(md5(text || 'z'))
                         || unhex(md5(text || 'w')))) AS hs
            FROM documents WHERE doc_id < 200),
        med AS (
            SELECT doc_id AS media_id, hs, 0 AS dv, FALSE AS noise FROM px
            UNION ALL
            SELECT doc_id + 1000, hs, 32, FALSE FROM px WHERE doc_id < 50
            UNION ALL
            SELECT doc_id + 2000, hs, 0, TRUE FROM px
            WHERE doc_id >= 50 AND doc_id < 100),
        pix AS (
            SELECT media_id, i,
                   CASE WHEN noise AND i = 0 THEN 255
                        ELSE ({_pix_hex_byte("i*2+1")} % 192) + dv END AS v
            FROM med, generate_series(0, 71) AS t(i)),
        bits AS (
            SELECT p1.media_id,
                   (p1.i // 9) * 8 + (p1.i % 9) AS bi,
                   CASE WHEN p1.v < p2.v THEN 1 ELSE 0 END AS bit
            FROM pix p1
            JOIN pix p2 ON p2.media_id = p1.media_id AND p2.i = p1.i + 1
            WHERE p1.i % 9 < 8),
        sigs AS (SELECT media_id, {chunk_sums} FROM bits GROUP BY media_id)"""


def _audio_contour_oracle_sql() -> str:
    """DuckDB twin of q_audio_contour_near_dup: samples from the same
    md5 hex digits (byte − 128, ×2 gain / sample-0 → 16000 variants),
    65 exact-integer frame energies, consecutive-energy comparisons
    via a self-join on frame index, and the shared chunk-pack /
    pigeonhole / popcount tail (`_chunk_pair_sql`)."""
    chunk_sums, ham, ors = _chunk_pair_sql()
    return f"""
        WITH px AS (
            SELECT doc_id,
                   lower(hex(unhex(md5(text)) || unhex(md5(text || 'x'))
                         || unhex(md5(text || 'y')) || unhex(md5(text || 'z'))
                         || unhex(md5(text || 'w')) || unhex(md5(text || 'a'))
                         || unhex(md5(text || 'b')) || unhex(md5(text || 'c'))
                         || unhex(md5(text || 'd')))) AS hs
            FROM documents WHERE doc_id < 200),
        med AS (
            SELECT doc_id AS media_id, hs, 1 AS g, FALSE AS spike FROM px
            UNION ALL
            SELECT doc_id + 1000, hs, 2, FALSE FROM px WHERE doc_id < 50
            UNION ALL
            SELECT doc_id + 2000, hs, 1, TRUE FROM px
            WHERE doc_id >= 50 AND doc_id < 100),
        smp AS (
            SELECT media_id, i,
                   CASE WHEN spike AND i = 0 THEN 16000
                        ELSE ({_pix_hex_byte("i*2+1")} - 128) * g END AS s
            FROM med, generate_series(0, 129) AS t(i)),
        fr AS (
            SELECT media_id, i // 2 AS f, SUM(s * s) AS e
            FROM smp GROUP BY media_id, i // 2),
        bits AS (
            SELECT f1.media_id, f1.f AS bi,
                   CASE WHEN f1.e < f2.e THEN 1 ELSE 0 END AS bit
            FROM fr f1
            JOIN fr f2 ON f2.media_id = f1.media_id AND f2.f = f1.f + 1
            WHERE f1.f < 64),
        sigs AS (SELECT media_id, {chunk_sums} FROM bits GROUP BY media_id),
        cand AS (
            SELECT a.media_id AS id_a, b.media_id AS id_b,
                   CAST({ham} AS BIGINT) AS hamming
            FROM sigs a JOIN sigs b
              ON a.media_id < b.media_id AND ({ors}))
        SELECT id_a, id_b, hamming FROM cand
        WHERE hamming <= 3
        ORDER BY id_a, id_b
    """


@query(_audio_contour_oracle_sql)
def q_audio_contour_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup detection by gain-invariant ENERGY-CONTOUR hash,
    end to end through the REAL codecs: deterministic 130-sample PCM16
    WAVs are authored per document (samples = nine chained md5 digests
    of the text, byte − 128) with the real RIFF encoder
    (`multimodal.encode_wav`), with PLANTED near-duplicates — a ×2
    uniform-GAIN copy for doc_id < 50 (every frame energy scales by 4;
    no consecutive-energy comparison moves, so the copy hashes
    IDENTICALLY — the loudness analog of dHash's brightness
    invariance) and a one-sample transient-spike copy for
    50 ≤ doc_id < 100 (sample 0 → 16000 perturbs frame 0's energy
    only: hamming ≤ 1). Each clip round-trips the RIFF chunk walk
    (`wav_pcm_samples`), reduces to 65 exact-integer frame energies,
    hashes to four 16-bit contour chunks (`audio_energy_chunks`), and
    pairs through the SAME 4-chunk pigeonhole join + xor-popcount
    verify as the image path (`dhash_near_dup_pairs` — one pairing
    kernel, two modalities). The DuckDB twin recomputes samples from
    the SAME md5 hex digits and replays energies, comparisons, chunk
    packing, candidate set, and popcount."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    raw = F.concat(
        *[
            F.unhex(F.md5(F.concat(F.col("text"), F.lit(s))))
            for s in ["", "x", "y", "z", "w", "a", "b", "c", "d"]
        ]
    )
    base = docs.select("doc_id", raw.alias("m"))
    variants = (
        base.select(
            F.col("doc_id").alias("media_id"),
            F.lit("orig").alias("variant"),
            "m",
        )
        .unionByName(
            base.filter(F.col("doc_id") < 50).select(
                (F.col("doc_id") + 1000).alias("media_id"),
                F.lit("gain").alias("variant"),
                "m",
            )
        )
        .unionByName(
            base.filter(
                (F.col("doc_id") >= 50) & (F.col("doc_id") < 100)
            ).select(
                (F.col("doc_id") + 2000).alias("media_id"),
                F.lit("spike").alias("variant"),
                "m",
            )
        )
    )

    def _author(it):
        import numpy as _np
        import pandas as _pd

        for pdf in it:
            content = []
            for m, v in zip(pdf["m"], pdf["variant"]):
                s = (
                    _np.frombuffer(bytes(m), _np.uint8, 130).astype(_np.int64)
                    - 128
                )
                if v == "gain":
                    s = s * 2
                elif v == "spike":
                    s = s.copy()
                    s[0] = 16000
                content.append(multimodal.encode_wav(s, rate=16000))
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "content": content,
                }
            )

    media = variants.mapInPandas(_author, "media_id long, content binary")
    sigs = multimodal.audio_energy_chunks(media)
    return multimodal.dhash_near_dup_pairs(sigs).orderBy("id_a", "id_b")


def _md5_chain(sfx: str) -> F.Column:
    """80 deterministic bytes from five chained md5 digests of `text`,
    suffix-seeded — the media-authoring idiom shared by the dHash /
    audio-contour / video fixtures."""
    return F.concat(
        *[
            F.unhex(F.md5(F.concat(F.col("text"), F.lit(sfx + t))))
            for t in ["", "x", "y", "z", "w"]
        ]
    )


def _md5_chain9(sfx: str) -> F.Column:
    """144 deterministic bytes from nine chained md5 digests of `text`,
    suffix-seeded — the 130-sample audio-authoring variant of
    `_md5_chain` (the audio-contour fixture's nine-suffix chain)."""
    return F.concat(
        *[
            F.unhex(F.md5(F.concat(F.col("text"), F.lit(sfx + t))))
            for t in ["", "x", "y", "z", "w", "a", "b", "c", "d"]
        ]
    )


def _video_shared_frame_oracle_sql() -> str:
    """DuckDB twin of q_video_shared_frame_dedup: per-(video, frame)
    pixels from the same suffix-seeded md5 hex digits (re-cut frame
    remap, +25 re-brighten), dHash comparisons/packing per frame
    (shared `_chunk_pair_sql` packing), DISTINCT signatures per video,
    and the signature equi-join with the exact shared count."""
    chunk_sums, _, _ = _chunk_pair_sql()

    def hx(sfx: str) -> str:
        parts = " || ".join(
            f"unhex(md5(text || '{sfx}{t}'))" for t in ["", "x", "y", "z", "w"]
        )
        return f"lower(hex({parts}))"

    fh = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS fsrc, {hx(f'f{j}')} AS hs FROM base"
        for j in range(3)
    ) + f" UNION ALL SELECT doc_id, 9 AS fsrc, {hx('g')} AS hs FROM base"
    vid_rows = []
    for fi, fs in [(0, 0), (1, 1), (2, 2)]:
        vid_rows.append(
            f"SELECT doc_id, doc_id AS media_id, {fi} AS frame_idx, "
            f"{fs} AS fsrc, 0 AS dv FROM base"
        )
    for fi, fs in [(0, 1), (1, 2), (2, 9)]:
        vid_rows.append(
            f"SELECT doc_id, doc_id + 1000, {fi}, {fs}, 0 FROM base "
            f"WHERE doc_id < 50"
        )
    for fi, fs in [(0, 0), (1, 1), (2, 2)]:
        vid_rows.append(
            f"SELECT doc_id, doc_id + 2000, {fi}, {fs}, 25 FROM base "
            f"WHERE doc_id >= 50 AND doc_id < 100"
        )
    vids = " UNION ALL ".join(vid_rows)
    return f"""
        WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
        fh AS ({fh}),
        vids AS ({vids}),
        pix AS (
            SELECT v.media_id, v.frame_idx, t.i,
                   ({_pix_hex_byte("t.i*2+1")} % 192) + v.dv AS v
            FROM vids v
            JOIN fh ON fh.doc_id = v.doc_id AND fh.fsrc = v.fsrc,
            generate_series(0, 71) AS t(i)),
        bits AS (
            SELECT p1.media_id, p1.frame_idx,
                   (p1.i // 9) * 8 + (p1.i % 9) AS bi,
                   CASE WHEN p1.v < p2.v THEN 1 ELSE 0 END AS bit
            FROM pix p1
            JOIN pix p2 ON p2.media_id = p1.media_id
                       AND p2.frame_idx = p1.frame_idx
                       AND p2.i = p1.i + 1
            WHERE p1.i % 9 < 8),
        sigs AS (SELECT media_id, frame_idx, {chunk_sums}
                 FROM bits GROUP BY media_id, frame_idx),
        sigd AS (SELECT DISTINCT media_id, c0, c1, c2, c3 FROM sigs)
        SELECT a.media_id AS id_a, b.media_id AS id_b,
               CAST(COUNT(*) AS BIGINT) AS shared_frames
        FROM sigd a JOIN sigd b
          ON a.media_id < b.media_id
         AND a.c0 = b.c0 AND a.c1 = b.c1 AND a.c2 = b.c2 AND a.c3 = b.c3
        GROUP BY a.media_id, b.media_id
        HAVING COUNT(*) >= 2
        ORDER BY id_a, id_b
    """


@query(_video_shared_frame_oracle_sql)
def q_video_shared_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup by SHARED PERCEPTUAL FRAME SIGNATURES, end to end
    through the real codecs: deterministic 3-frame VID0 videos (each
    frame a 9×8 PGM authored from suffix-seeded md5 chains of the
    text) with PLANTED duplicates — a RE-CUT for doc_id < 50 (drops
    frame 0, appends a new tail: 2 of 3 signatures survive) and a
    RE-BRIGHTENED copy for 50 ≤ doc_id < 100 (+25 on every pixel of
    every frame: every byte differs, every dHash matches — the
    perceptual part). Each container walks `decode_video_frames`, each
    frame decodes through the real P5 path and hashes via the shared
    `dhash_chunks_np` kernel (`video_frame_dhash` — the real
    frame-explode shape that `frame_sample_plan` only models), and
    pairs come from the set-semantics signature equi-join
    (`video_near_dup_pairs`: distinct signatures per video, hot-frame
    caps, exact shared count ≥ 2 — no all-pairs scan). The DuckDB twin
    recomputes every frame's pixels from the SAME md5 hex digits and
    replays hashing, frame-set dedup, the join, and the count."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    base = docs.select(
        "doc_id",
        _md5_chain("f0").alias("fa"),
        _md5_chain("f1").alias("fb"),
        _md5_chain("f2").alias("fc"),
        _md5_chain("g").alias("fg"),
    )
    variants = (
        base.select(
            F.col("doc_id").alias("media_id"),
            F.col("fa").alias("m0"),
            F.col("fb").alias("m1"),
            F.col("fc").alias("m2"),
            F.lit(0).alias("dv"),
        )
        .unionByName(
            base.filter(F.col("doc_id") < 50).select(
                (F.col("doc_id") + 1000).alias("media_id"),
                F.col("fb").alias("m0"),
                F.col("fc").alias("m1"),
                F.col("fg").alias("m2"),
                F.lit(0).alias("dv"),
            )
        )
        .unionByName(
            base.filter(
                (F.col("doc_id") >= 50) & (F.col("doc_id") < 100)
            ).select(
                (F.col("doc_id") + 2000).alias("media_id"),
                F.col("fa").alias("m0"),
                F.col("fb").alias("m1"),
                F.col("fc").alias("m2"),
                F.lit(25).alias("dv"),
            )
        )
    )

    def _author(it):
        import pandas as _pd

        for pdf in it:
            content = []
            for m0, m1, m2, dv in zip(
                pdf["m0"], pdf["m1"], pdf["m2"], pdf["dv"]
            ):
                frames = [
                    b"P5\n9 8\n255\n"
                    + bytes(x % 192 + int(dv) for x in bytes(m)[:72])
                    for m in (m0, m1, m2)
                ]
                content.append(multimodal.encode_video_frames(frames))
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "content": content,
                }
            )

    media = variants.mapInPandas(_author, "media_id long, content binary")
    frames = multimodal.video_frame_dhash(media)
    return multimodal.video_near_dup_pairs(frames, min_shared=2).orderBy(
        "id_a", "id_b"
    )


def _mih_bulk_oracle_sql() -> str:
    """DuckDB twin of q_mih_bulk_search: the shared signature chain,
    the pigeonhole candidate set as its relational shadow (≥1 chunk
    equal), self-pairs excluded, exact xor-popcount hamming ≤ 3, and
    the per-query (hamming, id) top-5."""
    ham = " + ".join(f"bit_count(xor(q.c{k}, c.c{k}))" for k in range(4))
    ors = " OR ".join(f"q.c{k} = c.c{k}" for k in range(4))
    return f"""
        WITH {_dhash_sigs_ctes()},
        cand AS (
            SELECT q.media_id AS query_id, c.media_id AS media_id,
                   CAST({ham} AS BIGINT) AS hamming
            FROM sigs q JOIN sigs c
              ON q.media_id <> c.media_id AND ({ors})
            WHERE {ham} <= 3)
        SELECT query_id, media_id, hamming FROM (
            SELECT cand.*, ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY hamming, media_id) AS rn
            FROM cand)
        WHERE rn <= 5
        ORDER BY query_id, hamming, media_id
    """


@query(_mih_bulk_oracle_sql)
def q_mih_bulk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch perceptual ingest gate (multimodal.mih_bulk_topk — the
    bulk twin of image_dhash_search, completing the bulk-serving tier
    for the third index family): ALL 350 media signatures probe the
    persisted multi-index-hashing index in ONE job — four (cb, exact
    chunk) joins, per-(query, candidate) dedup, exact xor-popcount
    hamming ≤ 3, per-query (hamming, id) top-5 — answering "which of
    these images already have a radius-3 neighbor in the corpus?"
    (exclude_self: the gate asks about OTHERS). Expected hits include
    every planted +32-brightness copy at hamming 0 and every hot-spot
    copy at hamming ≤ 1, in both orientations. The DuckDB twin
    recomputes every signature from the md5 hex digits (the shared
    sigs chain) and replays the pigeonhole candidate set, radius
    filter, and per-query ranking."""
    sigs = multimodal.image_dhash_chunks(_dhash_media(spark, sf_dir))
    index_path = _mih_index(spark, sf_dir)
    # materialize the query signatures once — the four chunk-table legs
    # would otherwise each re-author and re-hash the media fixture
    queries = sigs.select(
        F.col("media_id").alias("query_id"), "c0", "c1", "c2", "c3"
    ).localCheckpoint(eager=False)
    return multimodal.mih_bulk_topk(
        spark,
        index_path,
        queries,
        k=5,
        max_hamming=3,
        cb_bits=4,
        exclude_self=True,
    ).orderBy("query_id", "hamming", "media_id")


#: seeded unit directions for the cross-modal embedding leg's quantizer
_XMODAL_EMB_K = 8

_XMODAL_EMB_SEED = 4242


def _cross_modal_oracle_sql() -> str:
    """DuckDB twin of q_cross_modal_dedup: the tri-modal item table
    (md5-chain images, reversed strings/lists for the planted
    divergences), all three legs — the banded MinHash chain at 0.9,
    pixel→dHash→pigeonhole at hamming ≤ 3, the inlined-centroid
    quantizer cells with quantized within-cell cosine ≥ 0.95, and the
    gain-invariant audio energy-contour leg (130 samples from the same
    nine md5 digests, ×g gain, 65 exact-integer frame energies, the
    shared chunk-pack / pigeonhole / popcount tail) — the recursive
    min-label components over the merged edge set, and the
    (quality DESC, id ASC) election."""
    chunk_sums, ham, ors = _chunk_pair_sql()
    cents = similarity.make_unit_planes(
        dim=64, n_planes=_XMODAL_EMB_K, seed=_XMODAL_EMB_SEED
    )
    cnv = (cents**2).sum(axis=1)
    rows = ", ".join(
        f"({i}, {float(cnv[i])!r}, "
        f"[{', '.join(repr(float(x)) for x in cents[i])}]::DOUBLE[])"
        for i in range(len(cents))
    )

    def hx(sfx: str) -> str:
        parts = " || ".join(
            f"unhex(md5(text || '{sfx}{t}'))" for t in ["", "x", "y", "z", "w"]
        )
        return f"lower(hex({parts}))"

    def hx9(sfx: str) -> str:
        parts = " || ".join(
            f"unhex(md5(text || '{sfx}{t}'))"
            for t in ["", "x", "y", "z", "w", "a", "b", "c", "d"]
        )
        return f"lower(hex({parts}))"

    return f"""
        WITH b AS (
            SELECT d.doc_id, d.text, e.embedding::DOUBLE[] AS v
            FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
            WHERE d.doc_id < 150),
        it AS (
            SELECT doc_id AS item_id, text AS txt, {hx('cm')} AS hs,
                   0 AS dv, {hx9('cmau')} AS ahs, 1 AS g, v
            FROM b
            UNION ALL
            SELECT doc_id + 1000, text, {hx('cmalt')}, 0,
                   {hx9('cmaualt')}, 1, list_reverse(v)
            FROM b WHERE doc_id < 30
            UNION ALL
            SELECT doc_id + 2000, reverse(text), {hx('cm')}, 32,
                   {hx9('cmaualt')}, 1, list_reverse(v)
            FROM b WHERE doc_id >= 30 AND doc_id < 60
            UNION ALL
            SELECT doc_id + 3000, reverse(text), {hx('cmalt')}, 0,
                   {hx9('cmaualt')}, 1, v
            FROM b WHERE doc_id >= 60 AND doc_id < 90
            UNION ALL
            SELECT doc_id + 4000, reverse(text), {hx('cmalt')}, 0,
                   {hx9('cmau')}, 2, list_reverse(v)
            FROM b WHERE doc_id >= 90 AND doc_id < 120),
        w AS (
            SELECT item_id,
                   string_split_regex(lower(trim(txt)), '\\s+') AS words
            FROM it),
        shg AS (
            SELECT item_id,
                   CASE WHEN len(words) < 3
                        THEN [array_to_string(words, ' ')]
                        ELSE list_transform(
                            generate_series(0, len(words) - 3),
                            i -> array_to_string(
                                list_slice(words, i + 1, i + 3), ' '))
                   END AS sh
            FROM w),
        s AS (
            SELECT item_id,
                   list_transform([0, 1, 2, 3],
                       i -> list_min(list_transform(sh,
                           x -> md5(i::VARCHAR || ' ' || x)))) AS sig
            FROM shg),
        bnd AS (
            SELECT item_id, r.range AS band,
                   sig[CAST(r.range * 2 + 1 AS INT)] || ',' ||
                   sig[CAST(r.range * 2 + 2 AS INT)] AS bucket
            FROM s, range(2) r),
        candt AS (
            SELECT DISTINCT a.item_id AS id_a, b2.item_id AS id_b
            FROM bnd a
            JOIN bnd b2 ON a.band = b2.band AND a.bucket = b2.bucket
                       AND a.item_id < b2.item_id),
        pt AS (
            SELECT id_a, id_b
            FROM candt
            JOIN shg sa ON sa.item_id = candt.id_a
            JOIN shg sb ON sb.item_id = candt.id_b
            WHERE len(list_intersect(sa.sh, sb.sh))::DOUBLE
                  / (len(list_distinct(sa.sh)) + len(list_distinct(sb.sh))
                     - len(list_intersect(sa.sh, sb.sh))) >= 0.9),
        pix AS (
            SELECT item_id, i,
                   ({_pix_hex_byte("i*2+1")} % 192) + dv AS pv
            FROM it, generate_series(0, 71) AS t(i)),
        bits AS (
            SELECT p1.item_id,
                   (p1.i // 9) * 8 + (p1.i % 9) AS bi,
                   CASE WHEN p1.pv < p2.pv THEN 1 ELSE 0 END AS bit
            FROM pix p1
            JOIN pix p2 ON p2.item_id = p1.item_id AND p2.i = p1.i + 1
            WHERE p1.i % 9 < 8),
        isigs AS (SELECT item_id, {chunk_sums} FROM bits GROUP BY item_id),
        pi AS (
            SELECT a.item_id AS id_a, b.item_id AS id_b
            FROM isigs a JOIN isigs b
              ON a.item_id < b.item_id AND ({ors})
            WHERE {ham} <= 3),
        cents0(cid, cn, c) AS (VALUES {rows}),
        ev AS (SELECT item_id, v FROM it
               WHERE list_inner_product(v, v) > 0),
        asg AS (SELECT item_id, v, cid FROM (
                    SELECT ev.item_id, ev.v, c.cid,
                           ROW_NUMBER() OVER (
                               PARTITION BY ev.item_id
                               ORDER BY c.cn
                                        - 2 * list_inner_product(ev.v, c.c)
                                        ASC, c.cid ASC) AS rn
                    FROM ev, cents0 c
                ) WHERE rn = 1),
        pe AS (
            SELECT a.item_id AS id_a, b.item_id AS id_b
            FROM asg a JOIN asg b
              ON a.cid = b.cid AND a.item_id < b.item_id
            WHERE FLOOR(list_inner_product(a.v, b.v)
                        / (SQRT(list_inner_product(a.v, a.v))
                           * SQRT(list_inner_product(b.v, b.v)))
                        * 1000000 + 0.5) / 1000000.0 >= 0.95),
        asmp AS (
            SELECT item_id, i, ({_pix_hex_byte("i*2+1")} - 128) * g AS s
            FROM (SELECT item_id, ahs AS hs, g FROM it) amt,
                 generate_series(0, 129) AS ta(i)),
        afr AS (
            SELECT item_id, i // 2 AS f, SUM(s * s) AS e
            FROM asmp GROUP BY item_id, i // 2),
        abits AS (
            SELECT f1.item_id, f1.f AS bi,
                   CASE WHEN f1.e < f2.e THEN 1 ELSE 0 END AS bit
            FROM afr f1
            JOIN afr f2 ON f2.item_id = f1.item_id AND f2.f = f1.f + 1
            WHERE f1.f < 64),
        asigs AS (SELECT item_id, {chunk_sums} FROM abits
                  GROUP BY item_id),
        pa AS (
            SELECT a.item_id AS id_a, b.item_id AS id_b
            FROM asigs a JOIN asigs b
              ON a.item_id < b.item_id AND ({ors})
            WHERE {ham} <= 3),
        pairs AS (
            SELECT DISTINCT id_a, id_b, 'text' AS modality FROM pt
            UNION ALL SELECT DISTINCT id_a, id_b, 'image' FROM pi
            UNION ALL SELECT DISTINCT id_a, id_b, 'embed' FROM pe
            UNION ALL SELECT DISTINCT id_a, id_b, 'audio' FROM pa),
        edges AS (
            SELECT DISTINCT id_a AS ea, id_b AS eb FROM pairs
            UNION SELECT DISTINCT id_b, id_a FROM pairs),
        reach AS (
            WITH RECURSIVE r(id, label) AS (
                SELECT ea, ea FROM edges
                UNION
                SELECT e2.eb, r.label FROM r JOIN edges e2 ON e2.ea = r.id
            ) SELECT * FROM r
        ),
        comp AS (SELECT id AS item_id, MIN(label) AS component
                 FROM reach GROUP BY id),
        mq AS (
            SELECT item_id,
                   length(txt) AS nc,
                   CASE WHEN trim(txt) = '' THEN 0
                        ELSE len(string_split_regex(trim(txt), '\\s+'))
                   END AS nw,
                   len(regexp_extract_all(txt, '[^A-Za-z0-9\\s]'))
                       AS npunct,
                   length(regexp_replace(txt, '\\s+', '', 'g'))
                       AS nc_nospace
            FROM it),
        r2 AS (
            SELECT item_id,
                   LEAST(nc / 200.0, 1.0) AS len_score,
                   LEAST((CASE WHEN nc = 0 THEN 0.0
                               ELSE CAST(npunct AS DOUBLE) / nc END)
                         * 2.0, 1.0) AS noise_penalty,
                   CASE WHEN nw = 0 THEN 0.0
                        ELSE CAST(nc_nospace AS DOUBLE) / nw
                   END AS wl
            FROM mq),
        q AS (
            SELECT item_id,
                   FLOOR((len_score * 0.5
                          + (CASE WHEN wl >= 3.0 AND wl <= 8.0
                                  THEN 1.0 ELSE 0.5 END) * 0.3
                          + (1.0 - noise_penalty) * 0.2) * 1000000
                         + 0.5) / 1000000.0 AS quality
            FROM r2),
        members AS (
            SELECT comp.item_id, comp.component, q.quality
            FROM comp JOIN q USING (item_id)),
        elected AS (
            SELECT component, item_id AS keep_id, quality AS keep_quality
            FROM (SELECT *, ROW_NUMBER() OVER (
                              PARTITION BY component
                              ORDER BY quality DESC, item_id ASC) AS rn
                  FROM members)
            WHERE rn = 1),
        census AS (
            SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
            FROM members GROUP BY component),
        pc AS (
            SELECT c2.component, p.modality
            FROM pairs p JOIN comp c2 ON c2.item_id = p.id_a),
        mc AS (
            SELECT component,
                   CAST(SUM(CASE WHEN modality = 'text' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_text,
                   CAST(SUM(CASE WHEN modality = 'image' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_image,
                   CAST(SUM(CASE WHEN modality = 'embed' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_embed,
                   CAST(SUM(CASE WHEN modality = 'audio' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_audio
            FROM pc GROUP BY component)
        SELECT census.component, n_members, n_text, n_image, n_embed,
               n_audio, keep_id, keep_quality
        FROM census
        JOIN mc USING (component)
        JOIN elected USING (component)
        ORDER BY component
    """


@query(_cross_modal_oracle_sql)
def q_cross_modal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODAL dedup composition (the r12 verdict's task 6 — the
    multimodal sibling of corpus_pipeline_end2end): one quad-modal item
    corpus (text + authored PGM image + authored PCM16 audio +
    embedding, derived from documents ⋈ embeddings for doc_id < 150),
    four INDEPENDENT dedup legs, and ONE unified component census.
    Planted twins make each modality contribute pairs the others miss:

      - TEXT twin (item 1000+d, d < 30): identical text, different
        image (alt md5 chain), different audio, reversed embedding —
        only the banded MinHash leg (md5 family, 4 hashes / 2 bands,
        exact Jaccard ≥ 0.9 verify; the dedup_keep_best chain)
        catches it.
      - IMAGE twin (item 2000+d, 30 ≤ d < 60): reversed text, +32
        uniform-brightness image (dHash identical — the gradient
        invariance), different audio, reversed embedding — only the
        4-chunk pigeonhole leg (hamming ≤ 3) catches it.
      - EMBEDDING twin (item 3000+d, 60 ≤ d < 90): reversed text,
        different image, different audio, IDENTICAL embedding
        (cosine 1) — only the quantizer-cell leg (8 seeded unit
        directions, the house ‖c‖²−2·x·c argmin, within-cell
        quantized cosine ≥ 0.95) catches it.
      - AUDIO twin (item 4000+d, 90 ≤ d < 120; the r13 verdict's
        task 5): reversed text, different image, reversed embedding,
        ×2 uniform-GAIN audio — every frame energy scales by 4, no
        consecutive-energy comparison moves, the contour hashes
        IDENTICALLY (the loudness analog of dHash's brightness
        invariance) — only the energy-contour leg (the shared
        pigeonhole kernel over `audio_energy_chunks`, real RIFF
        encode/decode round-trip) catches it.

    The four pair sets merge into connected components (min-label
    pointer jumping) and each component elects its keep by (quality
    DESC, item_id ASC) — the precedence call when modalities disagree:
    a component glued together by image or audio evidence alone still
    keeps the best-WRITTEN copy. Output: per component, member count,
    per-modality pair counts, and the elected keeper. Every leg is the
    production-shaped operator (banded/bucketed/pigeonholed — never
    all-pairs); the DuckDB twin replays all four legs, the component
    recursion, and the election."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    items = _cross_modal_items(
        _cross_modal_base(docs, emb), 30, 60, 90, 120, 1000
    ).localCheckpoint(eager=False)
    return _cross_modal_census(items)


def _cross_modal_base(docs: DataFrame, emb: DataFrame) -> DataFrame:
    """The quad-modal base frame: each doc joined to its embedding plus
    the md5 authoring chains for the image (main + alt) and audio
    (main + alt) fixtures. Shared by the gated entry (doc_id < 150)
    and `tools/scaling.py cross_modal` (k× replicas, replica-salted
    text so every chain diverges across replicas)."""
    return docs.join(emb, "doc_id").select(
        "doc_id",
        "text",
        _md5_chain("cm").alias("him"),
        _md5_chain("cmalt").alias("halt"),
        _md5_chain9("cmau").alias("aum"),
        _md5_chain9("cmaualt").alias("aalt"),
        "v",
    )


def _cross_modal_items(
    b: DataFrame, r1: int, r2: int, r3: int, r4: int, off: int
) -> DataFrame:
    """The planted-twin item table over a quad-modal base frame:
    originals for every doc, a text twin (+off) for doc_id < r1, an
    image twin (+2·off) for r1 ≤ doc_id < r2, an embedding twin
    (+3·off) for r2 ≤ doc_id < r3, an audio twin (+4·off) for
    r3 ≤ doc_id < r4. Bounds/offset are parameters so the scaling
    harness can stamp the same structure per replica block."""
    d = F.col("doc_id")
    return (
        b.select(
            d.alias("item_id"),
            F.col("text").alias("txt"),
            F.col("him").alias("hs"),
            F.lit(0).alias("dv"),
            F.col("aum").alias("am"),
            F.lit(1).alias("ag"),
            "v",
        )
        .unionByName(
            b.filter(d < r1).select(
                (d + off).alias("item_id"),
                F.col("text").alias("txt"),
                F.col("halt").alias("hs"),
                F.lit(0).alias("dv"),
                F.col("aalt").alias("am"),
                F.lit(1).alias("ag"),
                F.reverse("v").alias("v"),
            )
        )
        .unionByName(
            b.filter((d >= r1) & (d < r2)).select(
                (d + 2 * off).alias("item_id"),
                F.reverse("text").alias("txt"),
                F.col("him").alias("hs"),
                F.lit(32).alias("dv"),
                F.col("aalt").alias("am"),
                F.lit(1).alias("ag"),
                F.reverse("v").alias("v"),
            )
        )
        .unionByName(
            b.filter((d >= r2) & (d < r3)).select(
                (d + 3 * off).alias("item_id"),
                F.reverse("text").alias("txt"),
                F.col("halt").alias("hs"),
                F.lit(0).alias("dv"),
                F.col("aalt").alias("am"),
                F.lit(1).alias("ag"),
                "v",
            )
        )
        .unionByName(
            b.filter((d >= r3) & (d < r4)).select(
                (d + 4 * off).alias("item_id"),
                F.reverse("text").alias("txt"),
                F.col("halt").alias("hs"),
                F.lit(0).alias("dv"),
                F.col("aum").alias("am"),
                F.lit(2).alias("ag"),
                F.reverse("v").alias("v"),
            )
        )
    )


def _cross_modal_census(items: DataFrame) -> DataFrame:
    """The four dedup legs + unified component census + quality
    election over a quad-modal item table (item_id, txt, hs, dv, am,
    ag, v) — the operator body of q_cross_modal_dedup, shared with the
    scaling harness so the witness times the REAL gated path.

    INPUT CONTRACT (ADVICE r15): `items` must already be materialized
    (localCheckpoint'ed) by the caller — the items.count() below plus
    the four CONCURRENT legs all read it, so on a plain lazy frame the
    count would be wasted work and the legs would race to recompute
    the base. Both callers (q_cross_modal_dedup,
    `tools/scaling.py cross_modal`) checkpoint before calling."""

    # -- TEXT leg: the dedup_keep_best MinHash chain at Jaccard >= 0.9
    tdocs = items.select(
        F.col("item_id").alias("doc_id"), F.col("txt").alias("text")
    )
    words = tdocs.select("doc_id", split_words("text").alias("__w"))
    sh = words.select(
        "doc_id", textf.shingles_from_words(F.col("__w"), 3).alias("sh")
    ).localCheckpoint(eager=False)
    families = F.sequence(F.lit(0), F.lit(3))
    sig_df = sh.select(
        "doc_id",
        F.transform(
            families,
            lambda i: F.array_min(
                F.transform(
                    F.col("sh"),
                    lambda s: F.md5(F.concat(i.cast("string"), F.lit(" "), s)),
                )
            ),
        ).alias("sig"),
    )
    cands = dedup.minhash_lsh_candidates(
        tdocs,
        sig_df=sig_df,
        num_hashes=4,
        bands=2,
        max_bucket_size=None,
        with_est=False,
    )
    sh_a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    p_text = (
        cands.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .filter(dedup.jaccard(F.col("sh_a"), F.col("sh_b")) >= 0.9)
        .select("id_a", "id_b", F.lit("text").alias("modality"))
    )

    # -- IMAGE leg: authored PGMs through the real decoder + pigeonhole
    def _author(it):
        import pandas as _pd

        for pdf in it:
            content = []
            for m, dv in zip(pdf["hs"], pdf["dv"]):
                px = bytearray(x % 192 for x in bytes(m)[:72])
                if int(dv):
                    px = bytearray(x + int(dv) for x in px)
                content.append(b"P5\n9 8\n255\n" + bytes(px))
            yield _pd.DataFrame(
                {
                    "item_id": pdf["item_id"].astype("int64"),
                    "content": content,
                }
            )

    media = items.select("item_id", "hs", "dv").mapInPandas(
        _author, "item_id long, content binary"
    )
    p_image = (
        multimodal.dhash_near_dup_pairs(
            multimodal.image_dhash_chunks(media, id_col="item_id"),
            id_col="item_id",
        )
        .select("id_a", "id_b", F.lit("image").alias("modality"))
    )

    # -- AUDIO leg: authored 130-sample PCM16 WAVs through the real
    #    RIFF encoder, gain-invariant energy-contour chunks, the same
    #    pigeonhole kernel as the image leg
    def _author_wav(it):
        import numpy as _np
        import pandas as _pd

        for pdf in it:
            content = []
            for m, g in zip(pdf["am"], pdf["ag"]):
                s = (
                    _np.frombuffer(bytes(m), _np.uint8, 130).astype(
                        _np.int64
                    )
                    - 128
                ) * int(g)
                content.append(multimodal.encode_wav(s, rate=16000))
            yield _pd.DataFrame(
                {
                    "item_id": pdf["item_id"].astype("int64"),
                    "content": content,
                }
            )

    clips = items.select("item_id", "am", "ag").mapInPandas(
        _author_wav, "item_id long, content binary"
    )
    p_audio = (
        multimodal.dhash_near_dup_pairs(
            multimodal.audio_energy_chunks(clips, id_col="item_id"),
            id_col="item_id",
        )
        .select("id_a", "id_b", F.lit("audio").alias("modality"))
    )

    # -- EMBEDDING leg: seeded-direction quantizer cells, within-cell
    #    quantized cosine (zero-norm vectors have no cosine — excluded)
    from data_streaming_and_visualization_with_kafka_spark_streaming_elasticsearch_and_kibana_spark.functions.vectors import (
        cosine,
    )

    cents = similarity.make_unit_planes(
        dim=64, n_planes=_XMODAL_EMB_K, seed=_XMODAL_EMB_SEED
    )
    cn = (cents**2).sum(axis=1)
    vec = items.select("item_id", "v").filter(
        vectors_dot(F.col("v"), F.col("v")) > 0
    )
    # assignment materialized once — it feeds both sides of the
    # within-cell self-join (guide §1.2)
    asg = similarity.ivf_assign(
        vec, cents, "v", cnorms_sq=cn
    ).localCheckpoint(eager=False)
    ea = asg.select(
        F.col("item_id").alias("id_a"), F.col("cid"), F.col("v").alias("va")
    )
    eb = asg.select(
        F.col("item_id").alias("id_b"), F.col("cid"), F.col("v").alias("vb")
    )
    cos_q = F.floor(
        cosine(F.col("va"), F.col("vb")) * 1000000 + F.lit(0.5)
    ) / F.lit(1000000.0)
    p_emb = (
        ea.join(eb, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos_q >= 0.95)
        .select("id_a", "id_b", F.lit("embed").alias("modality"))
    )

    # -- merge: one edge set, min-label components, quality election.
    # The four legs are INDEPENDENT plans that the CC loop's first
    # action used to materialize strictly one after another (each leg
    # is a chain of small stages, so the cluster idled between them).
    # Materialize the shared item table once, then run the four legs
    # as CONCURRENT jobs from a thread pool (guide §2.6 — actions are
    # only sequential because the driver calls them sequentially;
    # FIFO scheduling back-fills the tail of one leg with the next).
    # Each leg is deterministic and results merge by unionByName, so
    # output is identical to the sequential shape.
    from concurrent.futures import ThreadPoolExecutor

    items.count()  # shared base materializes once, not raced 4 ways

    def _mat(leg: DataFrame) -> DataFrame:
        out = leg.localCheckpoint(eager=False)
        out.count()
        return out

    with ThreadPoolExecutor(max_workers=4) as _pool:
        p_text, p_image, p_emb, p_audio = list(
            _pool.map(_mat, [p_text, p_image, p_emb, p_audio])
        )
    pairs = (
        p_text.unionByName(p_image)
        .unionByName(p_emb)
        .unionByName(p_audio)
        .dropDuplicates(["id_a", "id_b", "modality"])
    ).localCheckpoint(eager=False)
    comps = dedup.connected_components(pairs).select(
        F.col("id").alias("item_id"), "component"
    )
    quality = items.select(
        "item_id", textf.quality_score("txt").alias("quality")
    )
    members = comps.join(quality, "item_id")
    w = Window.partitionBy("component").orderBy(
        F.desc("quality"), F.asc("item_id")
    )
    elected = (
        members.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("item_id").alias("keep_id"),
            F.col("quality").alias("keep_quality"),
        )
    )
    census = members.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    pair_comp = pairs.join(
        comps.select(F.col("item_id").alias("id_a"), "component"), "id_a"
    )
    mod_counts = pair_comp.groupBy("component").agg(
        F.sum((F.col("modality") == "text").cast("long")).alias("n_text"),
        F.sum((F.col("modality") == "image").cast("long")).alias("n_image"),
        F.sum((F.col("modality") == "embed").cast("long")).alias("n_embed"),
        F.sum((F.col("modality") == "audio").cast("long")).alias("n_audio"),
    )
    return (
        census.join(mod_counts, "component")
        .join(elected, "component")
        .select(
            "component",
            "n_members",
            "n_text",
            "n_image",
            "n_embed",
            "n_audio",
            "keep_id",
            "keep_quality",
        )
        .orderBy("component")
    )


#: frame stride for the sampled-index video dedup leg
_VID_SAMPLE_STRIDE = 2


def _video_sampled_frame_oracle_sql() -> str:
    """DuckDB twin of q_video_sampled_frame_dedup: per-(video, frame)
    pixels from the same suffix-seeded md5 hex digits (8-frame
    re-cut remap, +25 re-brighten), dHash packing per frame, the
    stride-2 filter on the index side, per-side DISTINCT signatures,
    and the oriented equi-join with the exact shared count."""
    chunk_sums, _, _ = _chunk_pair_sql()

    def hx(sfx: str) -> str:
        parts = " || ".join(
            f"unhex(md5(text || '{sfx}{t}'))" for t in ["", "x", "y", "z", "w"]
        )
        return f"lower(hex({parts}))"

    fh = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS fsrc, {hx(f's{j}')} AS hs FROM base"
        for j in range(8)
    ) + f" UNION ALL SELECT doc_id, 9 AS fsrc, {hx('sg')} AS hs FROM base"
    vid_rows = [
        "SELECT doc_id, doc_id AS media_id, fi AS frame_idx, fi AS fsrc, "
        "0 AS dv FROM base, generate_series(0, 7) AS g(fi)",
        "SELECT doc_id, doc_id + 1000, fi, "
        "CASE WHEN fi < 7 THEN fi + 1 ELSE 9 END, 0 "
        "FROM base, generate_series(0, 7) AS g(fi) WHERE doc_id < 30",
        "SELECT doc_id, doc_id + 2000, fi, fi, 25 "
        "FROM base, generate_series(0, 7) AS g(fi) "
        "WHERE doc_id >= 30 AND doc_id < 60",
    ]
    vids = " UNION ALL ".join(vid_rows)
    return f"""
        WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 120),
        fh AS ({fh}),
        vids AS ({vids}),
        pix AS (
            SELECT v.media_id, v.frame_idx, t.i,
                   ({_pix_hex_byte("t.i*2+1")} % 192) + v.dv AS v
            FROM vids v
            JOIN fh ON fh.doc_id = v.doc_id AND fh.fsrc = v.fsrc,
            generate_series(0, 71) AS t(i)),
        bits AS (
            SELECT p1.media_id, p1.frame_idx,
                   (p1.i // 9) * 8 + (p1.i % 9) AS bi,
                   CASE WHEN p1.v < p2.v THEN 1 ELSE 0 END AS bit
            FROM pix p1
            JOIN pix p2 ON p2.media_id = p1.media_id
                       AND p2.frame_idx = p1.frame_idx
                       AND p2.i = p1.i + 1
            WHERE p1.i % 9 < 8),
        sigs AS (SELECT media_id, frame_idx, {chunk_sums}
                 FROM bits GROUP BY media_id, frame_idx),
        psig AS (SELECT DISTINCT media_id, c0, c1, c2, c3 FROM sigs),
        isig AS (SELECT DISTINCT media_id, c0, c1, c2, c3 FROM sigs
                 WHERE frame_idx % {_VID_SAMPLE_STRIDE} = 0)
        SELECT p.media_id AS probe_id, i.media_id AS index_id,
               CAST(COUNT(*) AS BIGINT) AS shared_sampled
        FROM psig p JOIN isig i
          ON p.media_id <> i.media_id
         AND p.c0 = i.c0 AND p.c1 = i.c1 AND p.c2 = i.c2 AND p.c3 = i.c3
        GROUP BY p.media_id, i.media_id
        HAVING COUNT(*) >= 2
        ORDER BY probe_id, index_id
    """


@query(_video_sampled_frame_oracle_sql)
def q_video_sampled_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup against a FRAME-SAMPLED index (the r12 verdict's
    task 5 — real strided sampling, where `frame_sample_plan` only
    models the explode): 8-frame VID0 videos (suffix-seeded md5-chain
    PGMs) with planted RE-CUTS for doc_id < 30 (drop frame 0, append a
    new tail — every frame shifts one position) and RE-BRIGHTENED
    copies for 30 ≤ doc_id < 60 (+25 every pixel, every dHash
    identical). The INDEX side walks the container at stride 2 —
    unsampled frames never pay the image decode + hash, so the index
    build costs ~half and holds ~half the rows (`video_frame_dhash(...,
    stride=2)`); the PROBE side walks all frames. The asymmetry is the
    design: any shared run ≥ stride contains a sampled index frame, so
    the one-frame-shifted re-cuts are caught in BOTH orientations
    (probe=re-cut finds 3 sampled matches, probe=original finds 4) —
    whereas striding both sides misses every odd-shift re-cut (the
    alignment failure pinned in tests/test_dhash.py, beside the
    sampled-vs-full retention measurement). Pairs from
    `video_sampled_near_dup_pairs`: distinct signatures per side,
    hot-signature caps, exact oriented count ≥ 2. The DuckDB twin
    recomputes every frame's pixels from the same md5 hex digits and
    replays hashing, the stride filter, per-side signature dedup, and
    the oriented join."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    base = docs.select(
        "doc_id",
        F.array(*[_md5_chain(f"s{j}") for j in range(8)]).alias("fr"),
        _md5_chain("sg").alias("mg"),
    )
    variants = (
        base.select(
            F.col("doc_id").alias("media_id"),
            F.col("fr").alias("frames"),
            F.lit(0).alias("dv"),
        )
        .unionByName(
            base.filter(F.col("doc_id") < 30).select(
                (F.col("doc_id") + 1000).alias("media_id"),
                F.concat(
                    F.slice(F.col("fr"), 2, 7), F.array(F.col("mg"))
                ).alias("frames"),
                F.lit(0).alias("dv"),
            )
        )
        .unionByName(
            base.filter(
                (F.col("doc_id") >= 30) & (F.col("doc_id") < 60)
            ).select(
                (F.col("doc_id") + 2000).alias("media_id"),
                F.col("fr").alias("frames"),
                F.lit(25).alias("dv"),
            )
        )
    )

    def _author(it):
        import pandas as _pd

        for pdf in it:
            content = []
            for frames, dv in zip(pdf["frames"], pdf["dv"]):
                blobs = [
                    b"P5\n9 8\n255\n"
                    + bytes(x % 192 + int(dv) for x in bytes(m)[:72])
                    for m in frames
                ]
                content.append(multimodal.encode_video_frames(blobs))
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "content": content,
                }
            )

    # authored once, walked twice (full probe + strided index)
    media = variants.mapInPandas(
        _author, "media_id long, content binary"
    ).localCheckpoint(eager=False)
    probe = multimodal.video_frame_dhash(media)
    index = multimodal.video_frame_dhash(
        media, stride=_VID_SAMPLE_STRIDE
    )
    return multimodal.video_sampled_near_dup_pairs(
        probe, index, min_shared=2
    ).orderBy("probe_id", "index_id")


#: media 0's dHash signature per sf_dir — the MIH query vector, fetched
#: once per corpus (the _QVEC_CACHE pattern)
_QSIG_CACHE: dict[str, list[int]] = {}


def _image_dhash_search_oracle_sql() -> str:
    """DuckDB twin of q_image_dhash_search: the shared signature chain
    (`_dhash_sigs_ctes`), media 0's signature as the query, the
    pigeonhole candidate set (≥1 chunk equal — the four probes'
    relational shadow), exact popcount hamming, radius filter, and the
    (hamming, id) top-10."""
    ham = " + ".join(f"bit_count(xor(s.c{j}, q.c{j}))" for j in range(4))
    ors = " OR ".join(f"s.c{j} = q.c{j}" for j in range(4))
    return f"""
        WITH {_dhash_sigs_ctes()},
        q AS (SELECT c0, c1, c2, c3 FROM sigs WHERE media_id = 0)
        SELECT media_id, hamming FROM (
            SELECT s.media_id, CAST({ham} AS BIGINT) AS hamming
            FROM sigs s, q
            WHERE {ors})
        WHERE hamming <= 3
        ORDER BY hamming, media_id
        LIMIT 10
    """


@query(_image_dhash_search_oracle_sql)
def q_image_dhash_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image SEARCH from the persisted multi-index-hashing
    index (multimodal.build_mih_index / mih_topk_from_index; Norouzi
    et al., CVPR 2012) — the request path of the perceptual family
    (image_dhash_near_dup is its batch dedup sibling): the shared
    media fixture's signatures persist as four chunk-keyed tables
    partitioned by the chunk's high byte, and the query (media 0's own
    signature — the ingest-gate shape, "have we seen this or anything
    3 bits away?") probes ONE partition per table (plan-pinned
    PartitionFilters in tests/test_plans.py), filters to the exact
    chunk value, dedups candidates, and verifies exact xor-popcount
    hamming ≤ 3 — top-10 by (hamming, id). The pigeonhole guarantee
    makes the probe LOSSLESS at radius 3; expected hits include media
    0 itself and its planted +32-brightness copy at hamming 0. The
    DuckDB twin recomputes every signature from the md5 hex digits
    (the shared sigs chain), takes media 0's row as the query, and
    replays the candidate pigeonhole, radius filter, and top-k."""
    sigs = multimodal.image_dhash_chunks(_dhash_media(spark, sf_dir))
    index_path = _mih_index(spark, sf_dir)
    # keyed on the index path, which carries the fixture's source stats
    # and code (r12 verdict nit): a process that regenerates
    # documents.parquet mid-life must not be served a stale signature
    if index_path not in _QSIG_CACHE:
        qrow = sigs.filter(F.col("media_id") == 0).head()
        _QSIG_CACHE[index_path] = [
            qrow["c0"], qrow["c1"], qrow["c2"], qrow["c3"]
        ]
    return multimodal.mih_topk_from_index(
        spark, index_path, _QSIG_CACHE[index_path], k=10, max_hamming=3,
        cb_bits=4,
    )


def _mih_index(spark: SparkSession, sf_dir: str) -> str:
    """The persisted multi-index-hashing index over the media fixture's
    dHash signatures, shared by q_image_dhash_search and
    q_mih_bulk_search. cb_bits=4 at fixture scale (350 signatures): 16
    partitions per table keeps the one-time build off the empty-dir
    commit floor; production corpora take the default 8 (256
    partitions). The fixture is authored from documents.parquet by
    `_dhash_media`, whose code the key covers through the build."""
    return materialize(
        "mih_index", sf_dir, [f"{sf_dir}/documents.parquet"], {"cb_bits": 4},
        lambda p: multimodal.build_mih_index(
            multimodal.image_dhash_chunks(_dhash_media(spark, sf_dir)), p,
            cb_bits=4,
        ),
    )


# the streamed ingest pair set reconstructs the batch output
# contract exactly, so its oracle IS the batch twin — one hash
# pins stream ≡ batch ≡ SQL replay
@query(_image_dhash_oracle_sql)
def q_streaming_dhash_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL dedup AT MEDIA INGEST, hash-gated against the batch
    SQL twin (streaming.dhash_ingest_sink): the shared dHash media
    fixture arrives as a 3-slice file stream (media_id % 3 —
    interleaved, so cross-batch pairs arrive in BOTH id orders), each
    micro-batch hashes through the real P5 decoders, probes ONLY the
    cb partitions of the persisted MIH state its own chunk values
    touch, verifies exact hamming ≤ 3 against probed state + the batch
    itself, appends normalized pair decisions, and folds its
    signatures into the state tables. The accumulated pair set is
    batching-independent (each pair found exactly once, when its
    later-arriving member ingests), so the ORACLE IS THE BATCH TWIN —
    _image_dhash_oracle_sql verbatim: one hash pins streamed ingest ≡
    batch dhash_near_dup_pairs ≡ the SQL replay; stream-vs-batch
    equality is separately pinned in tests/test_streaming.py."""

    def slices(stage: str) -> None:
        media = _dhash_media(spark, sf_dir)
        for part in range(3):
            media.filter(F.col("media_id") % 3 == part).coalesce(
                1
            ).write.mode("append").parquet(stage)

    stage = materialize(
        "dhashstream_src", sf_dir, [f"{sf_dir}/documents.parquet"], {}, slices
    )
    work = materialize(
        "dhashstream_state", sf_dir, [], {"src": stage},
        lambda w: streaming.drain_to_sink(
            spark, stage, "media_id long, content binary",
            streaming.dhash_ingest_sink(
                os.path.join(w, "state"), os.path.join(w, "pairs"), cb_bits=4
            ),
            os.path.join(w, "ckpt"),
        ),
    )
    return (
        spark.read.parquet(os.path.join(work, "pairs"))
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )
