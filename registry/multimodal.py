"""Multimodal plumbing entries: image, audio and video
decoders and fingerprints over fixture media rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from siridb_server_spark.operators import h264 as H264
from siridb_server_spark.operators import multimodal as MM
from siridb_server_spark.sources.testdata import load

from registry import Family
from registry._common import (
    _audio_fixture, _h264_pframes_rows, _media_df, _phash_fixture)

R = Family("multimodal")

R.add("multimodal_meta",
      lambda spark, sf_dir: MM.decode_image_meta(
          MM.documents_as_media(load(spark, sf_dir, "documents"))),
      "SELECT doc_id AS media_id,"
      " octet_length(encode(text)) AS n_bytes,"
      " (octet_length(encode(text)) * 7) % 640 + 1 AS width,"
      " (octet_length(encode(text)) * 13) % 480 + 1 AS height,"
      " octet_length(encode(text)) % 97 + 1 AS n_frames"
      " FROM documents")

R.add("multimodal_frames",
      lambda spark, sf_dir: MM.frame_sample(
          MM.documents_as_media(load(spark, sf_dir, "documents")),
          every_n=10),
      "SELECT doc_id AS media_id, unnest(range(0,"
      " octet_length(encode(text)) % 97 + 1, 10)) AS frame_idx"
      " FROM documents")


def _ppm(w, h, px, comment=False):
    head = b"P6\n" + (b"# c\n" if comment else b"") \
        + f"{w} {h}\n255\n".encode()
    return head + b"".join(bytes(p) for p in px)


# real container-format decodes on hand-constructed payloads:
# the expected metadata is known by construction
@R.entry("multimodal_ppm_decode", (
    "SELECT CAST(1 AS BIGINT) AS media_id, CAST(4 AS BIGINT)"
    " AS width, CAST(3 AS BIGINT) AS height, CAST(255 AS BIGINT)"
    " AS maxval, CAST(10.0 AS DOUBLE) AS mean_r,"
    " CAST(20.0 AS DOUBLE) AS mean_g,"
    " CAST(30.0 AS DOUBLE) AS mean_b"
    " UNION ALL SELECT 2, 2, 2, 255, 127.75, 64.25, 64.5"
    " UNION ALL SELECT 3, 1, 1, 255, 5.0, 6.0, 7.0"
    " UNION ALL SELECT 4, NULL, NULL, NULL, NULL, NULL, NULL"))
def multimodal_ppm_decode(spark, sf_dir):
    """REAL P6 decode through the Arrow path on hand-constructed
    images whose metadata is known exactly (uniform color → means
    equal the color; the oracle is those constants)."""
    rows = [
        (1, "image", _ppm(4, 3, [(10, 20, 30)] * 12), "image/ppm"),
        (2, "image", _ppm(2, 2, [(0, 0, 0), (255, 255, 255),
                                 (255, 0, 0), (1, 2, 3)]),
         "image/ppm"),
        (3, "image", _ppm(1, 1, [(5, 6, 7)], comment=True),
         "image/ppm"),
        (4, "image", b"not a ppm", "application/octet-stream"),
    ]
    media = _media_df(spark, rows)
    return MM.decode_ppm_meta(media)


@R.entry("multimodal_png_decode", (
    "SELECT CAST(1 AS BIGINT) AS media_id, CAST(4 AS BIGINT)"
    " AS width, CAST(3 AS BIGINT) AS height,"
    " CAST(3 AS BIGINT) AS channels, CAST(10.0 AS DOUBLE)"
    " AS mean_r, CAST(20.0 AS DOUBLE) AS mean_g,"
    " CAST(30.0 AS DOUBLE) AS mean_b"
    " UNION ALL SELECT 2, 2, 2, 3, 127.75, 64.25, 64.5"
    " UNION ALL SELECT 3, 2, 1, 1, 20.0, 20.0, 20.0"
    " UNION ALL SELECT 4, 2, 1, 4, 20.0, 30.0, 40.0"
    " UNION ALL SELECT 5, 2, 1, 1, 127.5, 0.0, 0.0"
    " UNION ALL SELECT 6, NULL, NULL, NULL, NULL, NULL, NULL"
    " UNION ALL SELECT 7, NULL, NULL, NULL, NULL, NULL, NULL"))
def multimodal_png_decode(spark, sf_dir):
    """REAL PNG decode (stdlib zlib inflate + per-filter
    unfilter) through the same Arrow path as the PPM entry, on
    hand-built images covering every scanline filter (0/1/2 on
    the uniform RGB, 4/3 on the mixed one) and every supported
    color type (RGB, gray, RGBA, palette) — metadata is known
    exactly, so the oracle is constants. A 16-bit image and a
    non-PNG payload yield NULLs (out of the declared subset)."""
    import numpy as np
    rgb1 = np.tile(np.array([10, 20, 30], np.uint8), (3, 4, 1))
    rgb2 = np.array([[(0, 0, 0), (255, 255, 255)],
                     [(255, 0, 0), (1, 2, 3)]], np.uint8)
    gray = np.array([[10, 30]], np.uint8)
    rgba = np.array([[(10, 20, 30, 255), (30, 40, 50, 0)]],
                    np.uint8)
    pal = np.array([[0, 1]], np.uint8)
    bad16 = MM.encode_png(rgb1)  # corrupt depth byte to 16
    depth_at = len(b"\x89PNG\r\n\x1a\n") + 8 + 8
    bad16 = bad16[:depth_at] + b"\x10" + bad16[depth_at + 1:]
    rows = [
        (1, "image", MM.encode_png(rgb1, filters=[0, 1, 2]),
         "image/png"),
        (2, "image", MM.encode_png(rgb2, filters=[4, 3]),
         "image/png"),
        (3, "image", MM.encode_png(gray, color_type=0),
         "image/png"),
        (4, "image", MM.encode_png(rgba, color_type=6,
                                   filters=[1]), "image/png"),
        (5, "image", MM.encode_png(
            pal, color_type=3,
            palette=[(0, 0, 0), (255, 0, 0)]), "image/png"),
        (6, "image", bad16, "image/png"),
        (7, "image", b"not a png", "application/octet-stream"),
    ]
    media = _media_df(spark, rows)
    return MM.decode_png_meta(media)


@R.entry("multimodal_gif_decode", (
    "SELECT CAST(1 AS BIGINT) AS media_id, CAST(2 AS BIGINT)"
    " AS width, CAST(2 AS BIGINT) AS height,"
    " CAST(2 AS BIGINT) AS n_frames, CAST(127.75 AS DOUBLE)"
    " AS mean_r, CAST(64.25 AS DOUBLE) AS mean_g,"
    " CAST(64.5 AS DOUBLE) AS mean_b"
    " UNION ALL SELECT 2, 4, 3, 1, 10.0, 20.0, 30.0"
    " UNION ALL SELECT 3, 1, 8, 1, 60.0, 60.0, 60.0"
    " UNION ALL SELECT 4, NULL, NULL, NULL, NULL, NULL, NULL"))
def multimodal_gif_decode(spark, sf_dir):
    """REAL GIF decode (library-free LZW + palette + interlace)
    on hand-built images: a 2-frame animation (first-frame means
    are the PPM/PNG mixed-color constants), a uniform frame
    behind a graphic-control extension, an INTERLACED frame
    whose row reordering must reproduce the sequential means,
    and an invalid payload -> NULLs. The frame count comes from
    the full block walk, not the first frame."""
    import numpy as np
    pal_mixed = [(0, 0, 0), (255, 255, 255), (255, 0, 0),
                 (1, 2, 3)]
    g1 = MM.encode_gif(
        [np.array([[0, 1], [2, 3]]), np.zeros((2, 2), int)],
        pal_mixed)
    g2 = MM.encode_gif([np.zeros((3, 4), int)],
                       [(10, 20, 30), (0, 0, 0)],
                       with_extension=True)
    gray = [(0, 0, 0), (40, 40, 40), (80, 80, 80),
            (120, 120, 120)]
    g3 = MM.encode_gif(
        [np.arange(8).reshape(8, 1) % 4], gray,
        interlace_first=True)
    rows = [
        (1, "image", g1, "image/gif"),
        (2, "image", g2, "image/gif"),
        (3, "image", g3, "image/gif"),
        (4, "image", b"GIF89ajunk", "application/octet-stream"),
    ]
    media = _media_df(spark, rows)
    return MM.decode_gif_meta(media)


# tiles mean: (0 + 50 + 100 + 250) / 4 = 100 exactly (flat 8x8
# tiles are pure DC under all-ones quant — no rounding loss)
@R.entry("multimodal_jpeg_decode", (
    "SELECT CAST(1 AS BIGINT) AS media_id, CAST(8 AS BIGINT)"
    " AS width, CAST(8 AS BIGINT) AS height,"
    " CAST(1 AS BIGINT) AS channels, CAST(100.0 AS DOUBLE)"
    " AS mean_r, CAST(100.0 AS DOUBLE) AS mean_g,"
    " CAST(100.0 AS DOUBLE) AS mean_b"
    " UNION ALL SELECT 2, 16, 16, 1, 100.0, 100.0, 100.0"
    " UNION ALL SELECT 3, 16, 16, 1, 100.0, 100.0, 100.0"
    " UNION ALL SELECT 4, 16, 16, 3, 200.0, 50.0, 120.0"
    " UNION ALL SELECT 5, NULL, NULL, NULL, NULL, NULL, NULL"
    " UNION ALL SELECT 6, NULL, NULL, NULL, NULL, NULL, NULL"
    " UNION ALL SELECT 7, 16, 16, 1, 100.0, 100.0, 100.0"
    " UNION ALL SELECT 8, 16, 16, 3, 200.0, 50.0, 120.0"))
def multimodal_jpeg_decode(spark, sf_dir):
    """REAL JPEG decode — baseline SOF0 AND progressive SOF2
    (from-scratch Huffman entropy decode + multi-scan spectral/
    successive-approximation accumulation + dequant + IDCT +
    YCbCr) on hand-built images whose expected values are
    independently derivable: flat and flat-tile images survive
    the all-ones-quant pipeline EXACTLY (a flat 8x8 block is
    pure DC, which rounds without loss), so the oracle is
    constants. Covers DC prediction across blocks, restart
    intervals, 4:2:0 subsampling, real progressive scans (gray
    + subsampled color), a MALFORMED progressive reject (SOF2
    with a baseline scan header) and a non-JPEG reject."""
    import numpy as np
    flat = np.full((8, 8), 100, np.uint8)
    tiles = np.zeros((16, 16), np.uint8)
    tiles[:8, 8:], tiles[8:, :8], tiles[8:, 8:] = 50, 100, 250
    color = np.zeros((16, 16, 3), np.uint8)
    color[:] = (200, 50, 120)
    bad = bytearray(MM.encode_jpeg_baseline(flat))
    bad[bad.index(b"\xFF\xC0") + 1] = 0xC2  # corrupt scan combo
    rows = [
        (1, "image", MM.encode_jpeg_baseline(flat),
         "image/jpeg"),
        (2, "image", MM.encode_jpeg_baseline(tiles),
         "image/jpeg"),
        (3, "image", MM.encode_jpeg_baseline(
            tiles, restart_interval=1), "image/jpeg"),
        (4, "image", MM.encode_jpeg_baseline(
            color, subsample=(2, 2)), "image/jpeg"),
        (5, "image", bytes(bad), "image/jpeg"),
        (6, "image", b"not a jpeg", "application/octet-stream"),
        (7, "image", MM.encode_jpeg_progressive(tiles),
         "image/jpeg"),
        (8, "image", MM.encode_jpeg_progressive(
            color, subsample=(2, 2)), "image/jpeg"),
    ]
    media = _media_df(spark, rows)
    return MM.decode_jpeg_meta(media)


@R.entry("multimodal_gif_frames", (
    "SELECT CAST(1 AS BIGINT) AS media_id,"
    " CAST(0 AS BIGINT) AS frame_idx"
    " UNION ALL SELECT 1, 2 UNION ALL SELECT 1, 4"
    " UNION ALL SELECT 2, 0"))
def multimodal_gif_frames(spark, sf_dir):
    """REAL frame sampling over GIF animations: indices stride
    the TRUE frame count (5 frames sampled every 2 -> 0, 2, 4;
    1 frame -> 0; an invalid GIF contributes nothing)."""
    import numpy as np
    f = np.zeros((2, 2), int)
    pal = [(0, 0, 0), (255, 255, 255)]
    rows = [
        (1, "video", MM.encode_gif([f] * 5, pal), "image/gif"),
        (2, "video", MM.encode_gif([f], pal), "image/gif"),
        (3, "video", b"GIF89ajunk", "image/gif"),
    ]
    media = _media_df(spark, rows)
    return MM.frame_sample(media, every_n=2)


def _mp4_fixture_rows():
    """Two spec-correct hand-muxed MP4s (multimodal.py
    build_minimal_mp4 — ISO/IEC 14496-12 box layout) + an
    invalid payload + a NULL payload."""
    a = MM.build_minimal_mp4(
        320, 240, [100, 200, 150, 50, 75],
        timescale=600, delta=60, samples_per_chunk=2)
    b = MM.build_minimal_mp4(
        1920, 1080, [4096] * 7, timescale=90000, delta=3000,
        samples_per_chunk=3, codec=b"hvc1")
    return [
        (1, "video", a, "video/mp4"),
        (2, "video", b, "video/mp4"),
        (3, "video", b"not an mp4", "application/octet-stream"),
        (4, "video", None, "video/mp4"),
    ]


# MP4 box-walk metadata: every constant byte-derived from the
# deterministic muxer (build_minimal_mp4): file lengths 1207 /
# 29312, tkhd dims, stsz frame counts, mvhd durations
# 5*60/600=0.5 and 7*3000/90000=0.233333
@R.entry("multimodal_mp4_decode", (
    "SELECT CAST(1 AS BIGINT) AS media_id,"
    " CAST(1207 AS BIGINT) AS n_bytes, 'isom' AS brand,"
    " 'avc1' AS codec, CAST(320 AS BIGINT) AS width,"
    " CAST(240 AS BIGINT) AS height,"
    " CAST(5 AS BIGINT) AS n_frames,"
    " CAST(0.5 AS DOUBLE) AS duration_s"
    " UNION ALL SELECT 2, 29312, 'isom', 'hvc1', 1920, 1080,"
    " 7, 0.233333"
    " UNION ALL SELECT 3, 10, NULL, NULL, NULL, NULL, NULL, NULL"
    " UNION ALL SELECT 4, 0, NULL, NULL, NULL, NULL, NULL, NULL"))
def multimodal_mp4_decode(spark, sf_dir):
    """REAL MP4 container decode via the library-free ISO-BMFF
    box walk: brand, codec fourcc, tkhd dimensions, true stsz
    frame count, mvhd duration. Invalid/NULL payloads yield
    NULL metadata (kept). Oracle pins every value byte-derived
    from the deterministic muxer output."""
    media = _media_df(spark, _mp4_fixture_rows())
    return MM.decode_mp4_meta(media)


# every-2nd-sample byte ranges reconstructed from stsc (2 resp. 3
# samples/chunk) + stco chunk offsets + stsz sizes
@R.entry("multimodal_mp4_frames", (
    "SELECT CAST(1 AS BIGINT) AS media_id,"
    " CAST(0 AS BIGINT) AS frame_idx,"
    " CAST(632 AS BIGINT) AS sample_offset,"
    " CAST(100 AS BIGINT) AS sample_size"
    " UNION ALL SELECT 1, 2, 932, 150"
    " UNION ALL SELECT 1, 4, 1132, 75"
    " UNION ALL SELECT 2, 0, 640, 4096"
    " UNION ALL SELECT 2, 2, 8832, 4096"
    " UNION ALL SELECT 2, 4, 17024, 4096"
    " UNION ALL SELECT 2, 6, 25216, 4096"))
def multimodal_mp4_frames(spark, sf_dir):
    """REAL strided frame byte-ranges from the stsc/stco/stsz
    tables: every 2nd sample's true file offset + size —
    the range-read contract of a distributed frame extractor.
    Non-BMFF payloads contribute no rows."""
    media = _media_df(spark, _mp4_fixture_rows())
    return MM.mp4_frame_offsets(media, every_n=2)


# H.264 decode is deterministic integer math: I_PCM reproduces
# the tile image exactly (mean (0+50+100+250)/4 = 100), the
# I16/I4 lossy frames reconstruct it exactly at qp 10 (flat 8x8
# tiles are pure-DC), and the raw PCM color frame lands on the
# integer-YCbCr roundtrip of (200,50,120) = (200,50,121)
@R.entry("multimodal_h264_frames", (
    "SELECT CAST(1 AS BIGINT) AS media_id,"
    " CAST(0 AS BIGINT) AS frame_idx,"
    " CAST(16 AS BIGINT) AS width,"
    " CAST(16 AS BIGINT) AS height,"
    " CAST(100.0 AS DOUBLE) AS mean_r,"
    " CAST(100.0 AS DOUBLE) AS mean_g,"
    " CAST(100.0 AS DOUBLE) AS mean_b"
    " UNION ALL SELECT 1, 1, 16, 16, 100.0, 100.0, 100.0"
    " UNION ALL SELECT 1, 2, 16, 16, 100.0, 100.0, 100.0"
    " UNION ALL SELECT 2, 0, 48, 32, 200.0, 50.0, 121.0"
    " UNION ALL SELECT 4, 0, NULL, NULL, NULL, NULL, NULL"
    " UNION ALL SELECT 4, 1, NULL, NULL, NULL, NULL, NULL"))
def multimodal_h264_frames(spark, sf_dir):
    """REAL H.264 video PIXEL decode (operators/h264.py:
    from-scratch CAVLC + intra prediction + exact integer
    transforms; the r5 stub is gone). Fixture: an MP4 whose avc1
    track carries three I-frames of the same 16x16 tile image —
    one I_PCM (lossless), one Intra_16x16, one Intra_4x4 — plus
    a raw Annex B color frame (integer-YCbCr PCM roundtrip maps
    (200,50,120) to (200,50,121)), a non-video payload (no
    rows), and an avcC-less MP4 whose zero-byte samples yield
    NULL pixel columns. All decode output is deterministic pure
    integer math, so the oracle pins exact constants."""
    import numpy as np
    tiles = np.zeros((16, 16), np.uint8)
    tiles[:8, 8:], tiles[8:, :8], tiles[8:, 8:] = 50, 100, 250
    streams = [H264.encode_h264_annexb(tiles, mode=m, qp=10)[0]
               for m in ("pcm", "i16", "i4")]
    avcc = H264.build_avcc(streams[0])
    samples = [H264.annexb_to_avcc_sample(s) for s in streams]
    mp4 = MM.build_minimal_mp4(16, 16, [],
                               sample_payloads=samples,
                               avcc=avcc)
    color = np.full((32, 48, 3), (200, 50, 120), np.uint8)
    raw = H264.encode_h264_annexb(color, mode="pcm", qp=26)[0]
    rows = [(1, "video", mp4, "video/mp4"),
            (2, "video", raw, "video/h264"),
            (3, "video", b"not a video", "application/x-junk"),
            (4, "video", MM.build_minimal_mp4(8, 8, [5, 5]),
             "video/mp4")]
    media = _media_df(spark, rows)
    return MM.decode_video_frames(media)


# P-frame golden (deterministic integer decode; the mp4 track
# and the raw Annex B stream must agree frame-for-frame)
_PF = (("124.087891", "124.041016", "124.091797"),
       ("125.006836", "124.683594", "124.265625"),
       ("123.983398", "124.255859", "124.22168"))


@R.entry("multimodal_h264_pframes", " UNION ALL ".join(
    f"SELECT CAST({mid} AS BIGINT) AS media_id,"
    f" CAST({i} AS BIGINT) AS frame_idx,"
    " CAST(32 AS BIGINT) AS width, CAST(32 AS BIGINT) AS height,"
    f" CAST({r} AS DOUBLE) AS mean_r,"
    f" CAST({g} AS DOUBLE) AS mean_g,"
    f" CAST({b} AS DOUBLE) AS mean_b"
    for mid in (1, 2) for i, (r, g, b) in enumerate(_PF)))
def multimodal_h264_pframes(spark, sf_dir):
    """H.264 P-frame (inter) decode through the Spark video
    surface (operators/h264.py round 8: MV prediction,
    quarter-pel MC, P_Skip, every P partition shape, inter
    deblocking bS): an IDR + two P frames of a moving pattern,
    delivered BOTH as an MP4 avc1 track (stateful sample-order
    decode, one sample per access unit) and as the raw Annex B
    stream — both must produce the same three frames. The whole
    pipeline is deterministic integer math, so the oracle pins
    the per-frame channel means as exact constants (golden;
    bit-exactness against the encoder's embedded reconstruction
    is asserted independently in tests/test_h264.py)."""
    rows = _h264_pframes_rows()
    media = _media_df(spark, rows)
    return MM.decode_video_frames(media)


# pHash goldens: exact-integer pipeline (hardcoded cosine
# table), so the 63-bit hashes are platform-exact constants;
# PNG and PPM of the same pixels share one hash
@R.entry("multimodal_image_phash", (
    "SELECT CAST(1 AS BIGINT) AS media_id,"
    " CAST(50 AS BIGINT) AS width, CAST(40 AS BIGINT) AS height,"
    " CAST(192259225235958612 AS BIGINT) AS phash"
    " UNION ALL SELECT 2, 50, 40, 192259225235958612"
    " UNION ALL SELECT 3, 50, 40, 157356328123837268"
    " UNION ALL SELECT 4, 50, 40, 8003364334614956497"
    " UNION ALL SELECT 5, NULL, NULL, NULL"))
def multimodal_image_phash(spark, sf_dir):
    """Perceptual image hash (multimodal dedup, round 8): decode
    → integer luma → 32x32 nearest resize → FIXED-POINT integer
    DCT-II (hardcoded cosine table — no libm in the lineage) →
    63-bit low-frequency median threshold. Exact integer math
    end-to-end, so the golden constants hold on any platform;
    robustness/discrimination properties are pytest-asserted."""
    return MM.image_phash(_phash_fixture(spark))


# audio landmark goldens (deterministic synthesis + numpy rfft
# on the one machine both engines run on; matching properties
# are additionally pytest-asserted)
@R.entry("multimodal_audio_fingerprint", (
    "SELECT CAST(1 AS BIGINT) AS media_id,"
    " CAST(909 AS BIGINT) AS n_landmarks,"
    " CAST(179 AS BIGINT) AS n_distinct_fp"
    " UNION ALL SELECT 2, 1149, 403"
    " UNION ALL SELECT 3, 924, 914"))
def multimodal_audio_fingerprint(spark, sf_dir):
    """Landmark audio fingerprints (peak-constellation hashing,
    Wang 2003): STFT peaks → (f1, f2, dt) hashes, one row per
    landmark — summarized per clip as exact landmark/distinct-fp
    counts (golden constants; the matching behavior itself is
    the dedup_audio_match entry)."""
    fps = MM.audio_fingerprint(_audio_fixture(spark))
    return (fps.groupBy("media_id")
            .agg(F.count(F.lit(1)).alias("n_landmarks"),
                 F.count_distinct("fp").alias("n_distinct_fp")))


# sampled pixels: png (0,0)(0,2)(1,0)(1,2) like the ppm case;
# jpeg one pixel per flat tile (0/50/100/250, exact); gif 2x2
# identity
@R.entry("multimodal_resize_any", (
    "SELECT CAST(1 AS BIGINT) AS media_id, CAST(2 AS BIGINT)"
    " AS width, CAST(2 AS BIGINT) AS height,"
    " CAST(80.0 AS DOUBLE) AS mean_r,"
    " CAST(10.0 AS DOUBLE) AS mean_g,"
    " CAST(15.0 AS DOUBLE) AS mean_b"
    " UNION ALL SELECT 2, 2, 2, 100.0, 100.0, 100.0"
    " UNION ALL SELECT 3, 2, 2, 15.0, 18.0, 21.0"
    " UNION ALL SELECT 4, NULL, NULL, NULL, NULL, NULL"))
def multimodal_resize_any(spark, sf_dir):
    """REAL format-agnostic resize to 2x2 across ALL the really-
    decoded formats in one frame: a PNG (sampled source pixels
    known exactly), a baseline JPEG of flat 8x8 tiles (flat
    tiles decode exactly, nearest-neighbor samples one pixel per
    tile), a GIF (identity 2x2), and an invalid payload ->
    NULLs. Output re-encodes as PNG; n_bytes/payload dropped so
    the oracle pins only decoder-derivable constants."""
    import numpy as np
    png = MM.encode_png(np.array(
        [[(0, 0, 0), (9, 9, 9), (20, 40, 60), (7, 7, 7)],
         [(100, 0, 0), (8, 8, 8), (200, 0, 0), (6, 6, 6)]],
        np.uint8), filters=[2, 4])
    tiles = np.zeros((16, 16), np.uint8)
    tiles[:8, 8:], tiles[8:, :8], tiles[8:, 8:] = 50, 100, 250
    jpg = MM.encode_jpeg_baseline(tiles)
    gif = MM.encode_gif(
        [np.array([[0, 1], [2, 3]])],
        [(0, 0, 0), (4, 8, 12), (16, 20, 24), (40, 44, 48)])
    rows = [
        (1, "image", png, "image/png"),
        (2, "image", jpg, "image/jpeg"),
        (3, "image", gif, "image/gif"),
        (4, "image", b"not an image", "text/plain"),
    ]
    media = _media_df(spark, rows)
    return MM.resize_image(media, 2, 2).drop("payload",
                                             "n_bytes")


def _wav(channels, rate, frames):
    import struct
    data = b"".join(struct.pack("<h", s)
                    for f in frames for s in f)
    fmt = struct.pack("<HHIIHH", 1, channels, rate,
                      rate * channels * 2, channels * 2, 16)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(body)) \
        + b"WAVE" + body


@R.entry("multimodal_wav_features", (
    "SELECT CAST(1 AS BIGINT) AS media_id,"
    " CAST(3 AS BIGINT) AS n_frames,"
    " CAST(4000.0 AS DOUBLE) AS dominant_hz,"
    " CAST(4000.0 AS DOUBLE) AS spectral_centroid_hz,"
    " CAST(1000.0 AS DOUBLE) AS rms"
    " UNION ALL SELECT 2, 1, 2000.0, 2000.0, 500.0"
    " UNION ALL SELECT 3, NULL, NULL, NULL, NULL"
    " UNION ALL SELECT 4, NULL, NULL, NULL, NULL"))
def multimodal_wav_features(spark, sf_dir):
    """REAL spectral features (numpy STFT) on signals whose
    spectra are single exact DFT bins: a Nyquist alternation
    (±1000 at 8 kHz -> one spike at 4000 Hz, rms exactly 1000)
    and a period-4 square (±500 -> 2000 Hz spike, rms 500 —
    stereo with identical channels, so the channel mean is the
    same signal). Dominant frequency == spectral centroid ==
    the bin frequency, all hand-derivable constants. A clip
    shorter than one frame and an invalid payload yield NULLs."""
    nyq = [(1000,) if i % 2 == 0 else (-1000,)
           for i in range(512)]
    sq = [((500, 500) if i % 4 < 2 else (-500, -500))
          for i in range(256)]
    rows = [
        (1, "audio", _wav(1, 8000, nyq), "audio/wav"),
        (2, "audio", _wav(2, 8000, sq), "audio/wav"),
        (3, "audio", _wav(1, 8000, [(100,)] * 64), "audio/wav"),
        (4, "audio", b"RIFFxxxx", "application/octet-stream"),
    ]
    media = _media_df(spark, rows)
    return MM.wav_features(media, frame=256, hop=128)


@R.entry("multimodal_ppm_resize", (
    "SELECT CAST(1 AS BIGINT) AS media_id, CAST(2 AS BIGINT)"
    " AS width, CAST(2 AS BIGINT) AS height, CAST(23 AS BIGINT)"
    " AS n_bytes, CAST(80.0 AS DOUBLE) AS mean_r,"
    " CAST(10.0 AS DOUBLE) AS mean_g,"
    " CAST(15.0 AS DOUBLE) AS mean_b"
    " UNION ALL SELECT 2, 2, 2, 23, 15.0, 18.0, 21.0"
    " UNION ALL SELECT 3, NULL, NULL, NULL, NULL, NULL, NULL"))
def multimodal_ppm_resize(spark, sf_dir):
    """REAL nearest-neighbor resize to 2x2 on hand-constructed
    P6 images — sampled source pixels (y*h//2, x*w//2) are known
    exactly, so the oracle is constants."""
    rows = [
        # 4x2: sampled pixels are (0,0) (0,2) (1,0) (1,2)
        (1, "image", _ppm(4, 2, [
            (0, 0, 0), (9, 9, 9), (20, 40, 60), (7, 7, 7),
            (100, 0, 0), (8, 8, 8), (200, 0, 0), (6, 6, 6)]),
         "image/ppm"),
        # 2x2 → identity sampling
        (2, "image", _ppm(2, 2, [(0, 0, 0), (4, 8, 12),
                                 (16, 20, 24), (40, 44, 48)]),
         "image/ppm"),
        (3, "image", b"not a ppm", "application/octet-stream"),
    ]
    media = _media_df(spark, rows)
    return MM.resize_ppm(media, 2, 2).drop("payload")


@R.entry("multimodal_wav_decode", (
    "SELECT CAST(1 AS BIGINT) AS media_id, CAST(1 AS BIGINT)"
    " AS channels, CAST(8000 AS BIGINT) AS sample_rate,"
    " CAST(16 AS BIGINT) AS bits, CAST(4 AS BIGINT) AS n_samples,"
    " CAST(0.0005 AS DOUBLE) AS duration_s,"
    " CAST(100.0 AS DOUBLE) AS rms"
    " UNION ALL SELECT 2, 2, 44100, 16, 2, 0.000045, 1000.0"
    " UNION ALL SELECT 3, NULL, NULL, NULL, NULL, NULL, NULL"))
def multimodal_wav_decode(spark, sf_dir):
    rows = [
        (1, "audio", _wav(1, 8000, [(100,), (-100,), (100,),
                                    (-100,)]), "audio/wav"),
        (2, "audio", _wav(2, 44100, [(1000, -1000),
                                     (1000, -1000)]), "audio/wav"),
        (3, "audio", b"RIFFxxxx", "application/octet-stream"),
    ]
    media = _media_df(spark, rows)
    return MM.decode_wav_meta(media)


# hand-derived constants: wav 4 samples @8 kHz → 0.5 ms half-up
# 1; flac STREAMINFO 441000 @44.1 kHz → 10 s; mp3 10×1152
# samples @44.1 kHz → 261.22 ms half-up 261; junk → NULLs
@R.entry("multimodal_audio_meta", (
    "SELECT CAST(1 AS BIGINT) AS media_id, 'wav' AS container,"
    " CAST(1 AS BIGINT) AS channels,"
    " CAST(8000 AS BIGINT) AS sample_rate,"
    " CAST(16 AS BIGINT) AS bits,"
    " CAST(4 AS BIGINT) AS n_samples,"
    " CAST(1 AS BIGINT) AS duration_ms"
    " UNION ALL SELECT 2, 'flac', 2, 44100, 16, 441000, 10000"
    " UNION ALL SELECT 3, 'mp3', 1, 44100, NULL, 11520, 261"
    " UNION ALL SELECT 4, NULL, NULL, NULL, NULL, NULL, NULL"))
def multimodal_audio_meta(spark, sf_dir):
    """Format-dispatched audio metadata on spec-correct
    fixtures: WAV (PCM sample scan), FLAC (STREAMINFO bits),
    MPEG-1 Layer III (frame walk, behind an ID3v2 tag), junk →
    NULLs. Oracle is the hand-derived constants."""
    rows = [
        (1, "audio", _wav(1, 8000, [(100,), (-100,), (100,),
                                    (-100,)]), "audio/wav"),
        (2, "audio", MM.build_flac_header(2, 44100, 16, 441000),
         "audio/flac"),
        (3, "audio", MM.build_mp3(10, id3_pad=32),
         "audio/mpeg"),
        (4, "audio", b"not audio", "application/octet-stream"),
    ]
    media = _media_df(spark, rows)
    return MM.decode_audio_meta(media)


# linear resample to 8 kHz: identity / midpoint-interpolated
# upsample / too-short clip → NULLs / invalid → NULLs;
# rms(id1) = sqrt((0²+100²+200²+300²)/4) = sqrt(35000)
@R.entry("multimodal_wav_resample", (
    "SELECT CAST(1 AS BIGINT) AS media_id, CAST(8000 AS BIGINT)"
    " AS sample_rate, CAST(4 AS BIGINT) AS n_samples,"
    " CAST(52 AS BIGINT) AS n_bytes,"
    " CAST(187.082869 AS DOUBLE) AS rms"
    " UNION ALL SELECT 2, 8000, 4, 52, 75.0"
    " UNION ALL SELECT 3, NULL, NULL, NULL, NULL"
    " UNION ALL SELECT 4, NULL, NULL, NULL, NULL"))
def multimodal_wav_resample(spark, sf_dir):
    """REAL linear resample to 8 kHz on hand-built PCM16 audio:
    equal rate is identity, 4 kHz upsamples with midpoint
    interpolation, a clip too short for one output frame and an
    invalid payload both yield NULLs — oracle is constants."""
    rows = [
        (1, "audio", _wav(1, 8000, [(0,), (100,), (200,),
                                    (300,)]), "audio/wav"),
        (2, "audio", _wav(1, 4000, [(0,), (100,)]), "audio/wav"),
        (3, "audio", _wav(2, 44100, [(1000, -1000),
                                     (1000, -1000)]),
         "audio/wav"),
        (4, "audio", b"RIFFxxxx", "application/octet-stream"),
    ]
    media = _media_df(spark, rows)
    return MM.resample_wav(media, 8000).drop("payload")
