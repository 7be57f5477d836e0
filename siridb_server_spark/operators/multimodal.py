"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

The Spark-side machinery — schema, Arrow-batched mapInPandas UDFs,
batch shapes, partition sizing — is real and tested. Decode is REAL
and library-free for every still-image format this module meets (PNG
via stdlib zlib, baseline JPEG via from-scratch Huffman+IDCT, GIF via
from-scratch LZW, P6 PPM), for RIFF/PCM16 WAV audio, and — since r6 —
for MP4/ISO-BMFF video CONTAINER metadata (dims, frame count,
duration, per-sample byte ranges via the public 14496-12 box walk).
Progressive (SOF2) JPEG also decodes for real since r6 — spectral
selection + successive approximation per T.81 §G, sharing the
baseline path's Huffman/IDCT/upsample machinery. H.264 video PIXELS
decode for real since r6 too: ``decode_video_frames`` slices avc1
samples out of the MP4 byte ranges and runs them through the
from-scratch baseline I-frame decoder in operators/h264.py (CAVLC +
intra prediction + exact integer transforms). What remains stubbed
is the codec long tail only (H.264 inter/P/B + CABAC, H.265, MP3 —
need native libraries): those paths raise NotImplementedError
unless ``deterministic_fake=True``, which produces metadata derived
only from the bytes (so tests and the correctness oracle can run).

At 100 TB: binary payloads dominate row size, so these operators use
mapInPandas (streaming Arrow batches, bounded memory via
spark.sql.execution.arrow.maxRecordsPerBatch) rather than collect-style
UDFs, and the recommended layout is one parquet row-group per ~128 MB
with the binary column last.

Throughput honesty: the from-scratch PNG/JPEG/GIF decoders exist to
make the decode SEMANTICS real and oracle-checkable without native
libraries — their inner loops (scanline unfilter for PNG filters
1/3/4, Huffman bit-walk for JPEG, LZW for GIF) are Python-level and
sized for thumbnails/test assets, not megapixel photos. The Spark
plumbing (schema, batching, NULL-on-invalid, partitioning) is the
production contract: a deployment with PIL/libjpeg-turbo swaps the
per-payload ``_parse_*`` call inside the same mapInPandas operator
and nothing else changes. PPM/WAV decode and all resize/resample
paths are fully vectorized numpy and production-speed as is.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),  # image|audio|video
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("mime", T.StringType(), True),
])

DECODED_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("n_bytes", T.LongType(), False),
    T.StructField("width", T.LongType(), True),
    T.StructField("height", T.LongType(), True),
    T.StructField("n_frames", T.LongType(), True),
])


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as an opaque payload —
    exercises the binary-column path with the driver's testdata."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("text").cast("binary").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
    )


def _fake_meta(payload: bytes) -> tuple:
    """Deterministic fake decode: metadata derived from the bytes only
    (mirrors what a real decoder would emit; SQL-reproducible)."""
    n = len(payload)
    return n, (n * 7) % 640 + 1, (n * 13) % 480 + 1, n % 97 + 1


def _real_image_meta(payload: bytes):
    """Real (n_bytes, width, height, n_frames) for the library-free
    image formats this module actually decodes — PNG (stdlib zlib),
    JPEG both baseline and progressive (from-scratch Huffman +
    IDCT + §G multi-scan accumulation), GIF (LZW, with the
    true animation frame count) and P6 PPM. None for anything else
    (video/codec formats like MP4)."""
    png = _parse_png_raster(payload)
    if png is not None:
        return (len(payload), png[0], png[1], 1)
    if payload[:2] == b"\xFF\xD8":
        jpg = _parse_jpeg_raster(payload)
        if jpg is not None:
            return (len(payload), jpg[0], jpg[1], 1)
    gif = _parse_gif_raster(payload)
    if gif is not None:
        return (len(payload), gif[0], gif[1], gif[2])
    ppm = _parse_ppm_raster(payload)
    if ppm is not None:
        return (len(payload), ppm[0], ppm[1], 1)
    mp4 = _parse_mp4(payload)
    if mp4 is not None:
        # REAL container metadata from the BMFF box walk (r6): true
        # dims/frame count; only pixel decode still needs ffmpeg
        return (len(payload), mp4["width"], mp4["height"],
                mp4["n_frames"])
    return None


def decode_image_meta(media: DataFrame,
                      deterministic_fake: bool = True) -> DataFrame:
    """Extract (width, height, ...) metadata per payload via Arrow-
    batched mapInPandas. PNG, baseline JPEG, GIF and P6 PPM payloads
    decode for REAL (library-free: stdlib zlib / from-scratch
    Huffman+IDCT / LZW / plain header parse), and MP4/ISO-BMFF
    payloads yield REAL container metadata (dims, true frame count)
    via the box walk (I-frame PIXELS decode for real through
    :func:`decode_video_frames`); what remains stubbed here is the
    codec long tail (H.264 inter/CABAC, H.265) — deterministic fake
    metadata derived from the bytes, or NotImplementedError when
    ``deterministic_fake=False``."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            metas = []
            for p in pdf["payload"]:
                p = p if p is not None else b""
                m = _real_image_meta(p)
                if m is None:
                    if not deterministic_fake:
                        raise NotImplementedError(
                            "inter-frame/CABAC codec decode "
                            "requires ffmpeg — not available in "
                            "this container; pass "
                            "deterministic_fake=True (PNG, "
                            "baseline+progressive JPEG, GIF, P6 "
                            "PPM, MP4 containers and baseline "
                            "H.264 I-frames decode for real)")
                    m = _fake_meta(p)
                metas.append(m)
            yield pd.DataFrame({
                "media_id": pdf["media_id"].astype("int64"),
                "n_bytes": [m[0] for m in metas],
                "width": [m[1] for m in metas],
                "height": [m[2] for m in metas],
                "n_frames": [m[3] for m in metas],
            })

    return media.mapInPandas(run, schema=DECODED_META_SCHEMA)


def resize_meta(media: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize operator shape: payload→payload. STUB — identity
    on bytes plus target-size metadata (a real impl swaps `transform`
    for the decoder+resampler; the Spark plumbing is identical).
    Superseded by :func:`resize_image` for every format this module
    really decodes; kept for the opaque-payload plumbing contract."""

    def run(batches: Iterator) -> Iterator:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["mime"] = "image/resized"
            yield pdf

    return media.mapInPandas(run, schema=MEDIA_SCHEMA) \
        .withColumn("target_w", F.lit(width)) \
        .withColumn("target_h", F.lit(height))


def _decode_any_rgb(payload: bytes):
    """HxWx3 uint8 of any really-decoded still format (PNG, baseline
    JPEG, GIF first frame, P6 PPM 8-bit), or None."""
    import numpy as np

    png = _parse_png_raster(payload)
    if png is not None:
        return png[3]
    if payload[:2] == b"\xFF\xD8":
        jpg = _parse_jpeg_raster(payload)
        if jpg is not None:
            return jpg[3]
    gif = _parse_gif_raster(payload)
    if gif is not None:
        return gif[3]
    ppm = _parse_ppm_raster(payload)
    if ppm is not None and ppm[2] <= 255:
        return np.asarray(ppm[3], dtype=np.uint8)
    return None


#: fixed-point cos(pi*m/64)*2^14 for m=0..32 (hardcoded so the pHash
#: DCT is EXACT INTEGER math end-to-end — no runtime libm cos whose
#: half-ulp build differences could flip a table rounding; the same
#: engine-portability rule the hashed oracle contracts follow)
_PHASH_COS = (16384, 16364, 16305, 16207, 16069, 15893, 15679,
              15426, 15137, 14811, 14449, 14053, 13623, 13160,
              12665, 12140, 11585, 11003, 10394, 9760, 9102, 8423,
              7723, 7005, 6270, 5520, 4756, 3981, 3196, 2404, 1606,
              804, 0)


def _phash_dct_matrix(np, n=32):
    """Integer DCT-II basis C[k, j] = cos(pi*(2j+1)k/(2n))*2^14 via
    the quarter-wave symmetry of the hardcoded table."""
    C = np.empty((n, n), dtype=np.int64)
    for k in range(n):
        for j in range(n):
            m = ((2 * j + 1) * k) % (4 * n)     # cos period 2*pi
            if m > 2 * n:
                m = 4 * n - m                   # cos(2*pi-x)=cos(x)
            if m <= n:
                C[k, j] = _PHASH_COS[m]
            else:                               # cos(pi-x) = -cos(x)
                C[k, j] = -_PHASH_COS[2 * n - m]
    return C


def _phash_of_rgb(np, rgb, hash_size=8):
    """64-bit DCT perceptual hash — exact integer pipeline: integer
    BT.601 luma, nearest resize to 32x32, fixed-point DCT-II (the
    hardcoded cosine table), bit k set when the k-th low-frequency
    coefficient (raster over the top-left 8x8, DC excluded) exceeds
    the lower median of those 63 coefficients."""
    h, w = rgb.shape[:2]
    r = rgb[:, :, 0].astype(np.int64)
    g = rgb[:, :, 1].astype(np.int64)
    b = rgb[:, :, 2].astype(np.int64)
    luma = (299 * r + 587 * g + 114 * b) // 1000
    n = 4 * hash_size
    ys = (np.arange(n) * h) // n
    xs = (np.arange(n) * w) // n
    small = luma[ys][:, xs]
    C = _phash_dct_matrix(np, n)
    coef = C @ small @ C.T          # int64-exact (|coef| < 2^45)
    block = coef[:hash_size, :hash_size].ravel()[1:]   # drop DC
    med = int(np.sort(block)[(len(block) - 1) // 2])   # lower median
    bits = 0
    for i, v in enumerate(block):
        if int(v) > med:
            bits |= 1 << i
    return bits


def image_phash(media: DataFrame, hash_size: int = 8) -> DataFrame:
    """Perceptual image hash for multimodal dedup — the image twin
    of SimHash: decode any supported still format, integer luma,
    32x32 nearest resize, fixed-point integer DCT-II, 63-bit
    low-frequency median threshold. Near-duplicate images (resize,
    re-encode, small edits) land within a few Hamming bits; pair
    them with :func:`phash_pairs`. The whole pipeline is exact
    integer math (hardcoded cosine table), so the hash is
    bit-identical on any platform — safe to persist in a dedup
    index. Row-local Arrow map; undecodable payloads yield NULLs.
    Output: (media_id, width, height, phash)."""
    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("phash", T.LongType(), True),
    ])

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                rgb = _decode_any_rgb(bytes(p) if p is not None
                                      else b"")
                if rgb is None:
                    rows.append((int(mid), None, None, None))
                    continue
                h, w = rgb.shape[:2]
                ph = _phash_of_rgb(np, rgb, hash_size)
                # store as signed int64 (bit 63 unused: 63-bit hash)
                rows.append((int(mid), w, h, int(ph)))
            out = pd.DataFrame(
                rows, columns=["media_id", "width", "height",
                               "phash"])
            # nullable Int64, NOT float64: a None row must not send
            # >2^53 hashes through a double (low bits would round)
            out["phash"] = pd.array(
                [r[3] for r in rows], dtype="Int64")
            yield out

    return media.mapInPandas(run, schema=schema)


def phash_pairs(media: DataFrame, max_hamming: int = 6,
                bands: int = 4,
                max_bucket: int | None = None) -> DataFrame:
    """Near-duplicate IMAGE pairs: :func:`image_phash` signatures
    through the generic banded Hamming join (dedup.hamming_pairs) —
    banding guarantees recall for distances < bands, candidates
    verify via bit_count(xor), never all-pairs. Output: (id_a,
    id_b, hamming)."""
    from .dedup import hamming_pairs

    sig = image_phash(media).where(F.col("phash").isNotNull())
    return hamming_pairs(sig, sig_col="phash", id_col="media_id",
                         bits=64, bands=bands,
                         max_hamming=max_hamming,
                         max_bucket=max_bucket)


def resize_image(media: DataFrame, out_w: int,
                 out_h: int) -> DataFrame:
    """REAL format-agnostic resize: decode any supported still
    format (PNG / baseline JPEG / GIF first frame / P6 PPM),
    nearest-neighbor resample (source pixel for output (y, x) is
    (y·h//out_h, x·w//out_w)), re-encode as PNG (RGB, filter 0).
    One numpy fancy-index + deflate per image, Arrow-batched through
    mapInPandas — row-local, a pure map at any corpus size.
    Undecodable payloads yield NULLs (kept, not dropped). Output:
    (media_id, width, height, payload PNG, n_bytes, mean_r/g/b of
    the thumbnail, 6 decimals)."""

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                rgb = _decode_any_rgb(bytes(p) if p is not None
                                      else b"")
                if rgb is None:
                    rows.append((int(mid),) + (None,) * 7)
                    continue
                h, w = rgb.shape[:2]
                ys = (np.arange(out_h) * h) // out_h
                xs = (np.arange(out_w) * w) // out_w
                thumb = rgb[ys][:, xs]
                payload = encode_png(thumb)
                means = thumb.reshape(-1, 3).mean(axis=0)
                rows.append((int(mid), out_w, out_h, payload,
                             len(payload),
                             round(float(means[0]), 6),
                             round(float(means[1]), 6),
                             round(float(means[2]), 6)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in PPM_RESIZE_SCHEMA])

    return media.mapInPandas(run, schema=PPM_RESIZE_SCHEMA)


def frame_sample(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame sampling: one row in → k rows out (flatMap semantics
    via mapInPandas). REAL for GIF payloads (block-walk frame count)
    and for MP4/ISO-BMFF payloads (stsz sample count from the box
    walk — see :func:`mp4_frame_offsets` for the byte-range variant);
    only unrecognized payloads fall back to deterministic
    length-derived indices."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                p = r["payload"] or b""
                if p[:6] in (b"GIF87a", b"GIF89a"):
                    gif = _parse_gif_raster(bytes(p))
                    n_frames = gif[2] if gif is not None else 0
                else:
                    mp4 = _parse_mp4(bytes(p))
                    if mp4 is not None:
                        n_frames = mp4["n_frames"]
                    else:
                        n_frames = len(p) % 97 + 1
                for i in range(0, n_frames, every_n):
                    rows.append((int(r["media_id"]), i))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx"])

    schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), False),
    ])
    return media.mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------
# Real decoders for library-free formats. PPM (P6) and WAV (RIFF/PCM)
# are plain structs — header fields plus a raster/sample array — so
# they decode with numpy alone, no codec library. These upgrade the
# decode path from "stub" to "real for container formats, stubbed for
# compressed codecs (JPEG/MP3/H.264 need native libs)". The Spark
# shape is identical: Arrow-batched mapInPandas, bounded memory.

PPM_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("width", T.LongType(), True),
    T.StructField("height", T.LongType(), True),
    T.StructField("maxval", T.LongType(), True),
    T.StructField("mean_r", T.DoubleType(), True),
    T.StructField("mean_g", T.DoubleType(), True),
    T.StructField("mean_b", T.DoubleType(), True),
])


def _parse_ppm_raster(payload: bytes):
    """P6 PPM header + raster. Returns (w, h, maxval, HxWx3 uint8
    array) or None if not a valid P6."""
    import numpy as np

    if not payload or not payload.startswith(b"P6"):
        return None
    # tokenize the header: 4 ints/fields, '#' comments run to newline
    pos, fields = 2, []
    while len(fields) < 3 and pos < len(payload):
        c = payload[pos:pos + 1]
        if c.isspace():
            pos += 1
        elif c == b"#":
            nl = payload.find(b"\n", pos)
            pos = len(payload) if nl < 0 else nl + 1
        else:
            end = pos
            while end < len(payload) and \
                    not payload[end:end + 1].isspace():
                end += 1
            tok = payload[pos:end]
            if not tok.isdigit():
                return None
            fields.append(int(tok))
            pos = end
    if len(fields) < 3 or pos >= len(payload):
        return None
    pos += 1  # the single whitespace after maxval
    w, h, maxval = fields
    if w <= 0 or h <= 0 or not 0 < maxval < 65536:
        # zero dimensions or an out-of-spec maxval: malformed —
        # treat as invalid, not a crash or a silent misread
        return None
    if maxval > 255:
        # legal P6 with 2-byte big-endian samples
        need = w * h * 6
        raster = payload[pos:pos + need]
        if len(raster) < need:
            return None
        arr16 = np.frombuffer(raster, dtype=">u2").reshape(h, w, 3)
        return (w, h, maxval, arr16)
    need = w * h * 3
    raster = payload[pos:pos + need]
    if len(raster) < need:
        return None
    arr = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)
    return (w, h, maxval, arr)


def _parse_ppm(payload: bytes):
    """(w, h, maxval, mean_r, mean_g, mean_b) of a P6 payload, or
    None if not a valid P6."""
    parsed = _parse_ppm_raster(payload)
    if parsed is None:
        return None
    w, h, maxval, arr = parsed
    means = arr.reshape(-1, 3).mean(axis=0)
    return (w, h, maxval, round(float(means[0]), 6),
            round(float(means[1]), 6), round(float(means[2]), 6))


def decode_ppm_meta(media: DataFrame) -> DataFrame:
    """REAL image decode for P6 PPM payloads: header dims + per-
    channel mean via one numpy reshape per payload. Non-PPM payloads
    yield NULL metadata (kept, not dropped — the caller filters)."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                m = _parse_ppm(p if p is not None else b"")
                rows.append((int(mid),) + (m if m else (None,) * 6))
            yield pd.DataFrame(
                rows, columns=[f.name for f in PPM_META_SCHEMA])

    return media.mapInPandas(run, schema=PPM_META_SCHEMA)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"

#: bytes per pixel of the inflated scanline stream, per color type
#: (8-bit depth): 0=gray, 2=RGB, 3=palette index, 4=gray+alpha,
#: 6=RGBA (PNG spec §11.2.2)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int):
    """Reverse the per-scanline filters (PNG spec §9): each line
    carries a leading filter byte (0 None, 1 Sub, 2 Up, 3 Average,
    4 Paeth). None/Up vectorize over the whole line (uint8 addition
    wraps mod 256, exactly the spec's arithmetic); Sub/Average/Paeth
    recurse on the previous pixel so they run as per-byte loops —
    fine, since the per-image work is row-local inside an Arrow
    batch. Returns an (h, stride) uint8 array or None on an unknown
    filter byte or short data."""
    import numpy as np

    if len(raw) < h * (stride + 1):
        return None
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    for y in range(h):
        f = raw[pos]
        pos += 1
        line = np.frombuffer(raw, dtype=np.uint8, count=stride,
                             offset=pos).copy()
        pos += stride
        prev = out[y - 1] if y else np.zeros(stride, dtype=np.uint8)
        if f == 0:
            pass
        elif f == 1:  # Sub
            for x in range(bpp, stride):
                line[x] = (int(line[x]) + int(line[x - bpp])) & 0xFF
        elif f == 2:  # Up
            line += prev
        elif f == 3:  # Average
            for x in range(stride):
                a = int(line[x - bpp]) if x >= bpp else 0
                line[x] = (int(line[x]) + ((a + int(prev[x])) >> 1)) \
                    & 0xFF
        elif f == 4:  # Paeth
            for x in range(stride):
                a = int(line[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else \
                    (b if pb <= pc else c)
                line[x] = (int(line[x]) + pr) & 0xFF
        else:
            return None
        out[y] = line
    return out


def _parse_png_raster(payload: bytes):
    """REAL PNG decode, library-free (stdlib zlib + numpy): 8-bit
    non-interlaced images of color type 0 (gray), 2 (RGB),
    3 (palette), 4 (gray+alpha) or 6 (RGBA). Walks the chunk stream
    (len/type/data/crc), inflates the concatenated IDAT bodies,
    reverses the scanline filters, and maps every color type onto an
    RGB view (gray broadcast across channels, alpha dropped, palette
    looked up from PLTE). Returns (w, h, n_channels, HxWx3 uint8
    rgb) or None for anything malformed / out of this subset
    (16-bit, interlaced, truncated — those are invalid here, not a
    crash)."""
    import struct
    import zlib

    import numpy as np

    if not payload or not payload.startswith(_PNG_SIG):
        return None
    pos, ihdr, plte, idat = len(_PNG_SIG), None, None, []
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos:pos + 4])
        ctype = payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + ln]
        if len(body) < ln:
            return None
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + ln  # len + type + data + crc
    if ihdr is None or len(ihdr) < 13 or not idat:
        return None
    w, h, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr[:13])
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0 \
            or color not in _PNG_CHANNELS or w <= 0 or h <= 0:
        return None
    bpp = _PNG_CHANNELS[color]
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    img = _png_unfilter(raw, h, w * bpp, bpp)
    if img is None:
        return None
    px = img.reshape(h, w, bpp)
    if color == 2:
        rgb = px
    elif color == 6:
        rgb = px[:, :, :3]
    elif color == 0:
        rgb = np.repeat(px, 3, axis=2)
    elif color == 4:
        rgb = np.repeat(px[:, :, :1], 3, axis=2)
    else:  # palette
        if plte is None or len(plte) % 3:
            return None
        table = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= len(table):
            return None
        rgb = table[idx]
    return (int(w), int(h), bpp, rgb)


#: 8x8 zigzag scan order (JPEG spec figure A.6): zigzag index ->
#: (row-major) block position
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _jpeg_idct_matrix():
    """8-point DCT-III basis: pixels = C^T @ coeffs @ C with
    C[u, x] = a(u) cos((2x+1)uπ/16) — the exact inverse of the
    spec's FDCT (A.3.3), as one numpy matmul pair per block."""
    import numpy as np

    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    c = np.cos((2 * x + 1) * u * np.pi / 16)
    c[0] *= 1 / np.sqrt(2)
    return c * 0.5


class _JpegBitReader:
    """MSB-first bit reader over the entropy-coded segment with
    0xFF00 byte-stuffing removal; RSTn markers are consumed by the
    decoder between restart intervals."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self):
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2  # stuffed FF
            else:
                # marker reached: feed padding 1-bits (spec F.2.2.5
                # pads the last byte with 1s; reads past the segment
                # mean a truncated stream and surface as an error
                # upstream via index checks)
                self.acc = (self.acc << 8) | 0xFF
                self.nbits += 8
                return
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_to_marker(self):
        """Drop partial bits and consume an RSTn marker if present."""
        self.nbits = 0
        while self.data[self.pos] == 0xFF \
                and 0xD0 <= self.data[self.pos + 1] <= 0xD7:
            self.pos += 2


def _jpeg_extend(v: int, n: int) -> int:
    """DIFF/AC value extension (spec F.2.2.1): n-bit raw value to
    signed magnitude."""
    return v if n == 0 or v >= (1 << (n - 1)) else v - (1 << n) + 1


def _huff_table(bits, vals):
    """Canonical Huffman (code, length) -> symbol map from the DHT
    counts-per-length + symbol list."""
    table = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_decode(reader: _JpegBitReader, table) -> int | None:
    code, ln = 0, 0
    while ln < 16:
        code = (code << 1) | reader.read_bit()
        ln += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    return None


def _parse_jpeg_raster(payload: bytes):
    """REAL baseline JPEG decode, library-free (pure numpy): marker
    walk, DQT/DHT/SOF0/SOS/DRI parsing, canonical Huffman entropy
    decode with byte-unstuffing and restart intervals, dequantize +
    zigzag + IDCT per 8x8 block, chroma upsampling for 4:4:4 / 4:2:2
    / 4:2:0, and BT.601 YCbCr->RGB. Supported: baseline sequential
    (SOF0) AND progressive (SOF2 — spectral selection + successive
    approximation per T.81 §G, multi-scan coefficient accumulation),
    8-bit, 1 or 3 components. Arithmetic coding, 12-bit, and
    hierarchical return None — malformed input is invalid, never a
    crash. Returns (w, h, n_components, HxWx3 uint8 rgb)."""
    import struct

    import numpy as np

    try:
        return _parse_jpeg_raster_inner(payload, np)
    except (IndexError, KeyError, ValueError, ZeroDivisionError,
            TypeError, struct.error):
        return None


def _parse_jpeg_raster_inner(payload: bytes, np):
    import struct

    if len(payload) < 4 or payload[:2] != b"\xFF\xD8":
        return None
    pos = 2
    qt: dict = {}
    huff_dc: dict = {}
    huff_ac: dict = {}
    frame = None
    restart_interval = 0
    progressive = False
    prog = None  # per-component coefficient state across scans
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            return None
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            if prog is not None and prog.any_scan:
                return _jpeg_progressive_finish(prog, qt, np)
            return None  # EOI before any decodable scan: no image
        if pos + 4 > len(payload):
            return None  # truncated segment header
        (seglen,) = struct.unpack(">H", payload[pos + 2:pos + 4])
        body = payload[pos + 4:pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                i += 1
                n = 64 * (2 if pq else 1)
                raw = body[i:i + n]
                i += n
                if pq:
                    tbl = np.frombuffer(raw, ">u2").astype(np.int64)
                else:
                    tbl = np.frombuffer(raw, np.uint8).astype(np.int64)
                qt[tq] = tbl
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 15
                bits = list(body[i + 1:i + 17])
                nv = sum(bits)
                vals = list(body[i + 17:i + 17 + nv])
                (huff_dc if tc == 0 else huff_ac)[th] = _huff_table(
                    bits, vals)
                i += 17 + nv
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8 or nc not in (1, 3):
                return None
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c:9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 15, tq))
            frame = (w, h, comps)
            if marker == 0xC2:
                progressive = True
                prog = _JpegProgState(w, h, comps, np)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None  # extended/lossless/arithmetic frame types
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                return None
            ns = body[0]
            if progressive:
                sel = []  # (cid, dc table, ac table) in scan order
                for c in range(ns):
                    cs, tt = body[1 + 2 * c:3 + 2 * c]
                    sel.append((cs, tt >> 4, tt & 15))
                ss, se, ahl = body[1 + 2 * ns:4 + 2 * ns]
                pos = _jpeg_progressive_scan(
                    payload, pos, prog, sel, ss, se,
                    ahl >> 4, ahl & 15, huff_dc, huff_ac,
                    restart_interval, np)
                if pos is None:
                    return None
                continue
            scan = {}
            for c in range(ns):
                cs, tt = body[1 + 2 * c:3 + 2 * c]
                scan[cs] = (tt >> 4, tt & 15)
            return _jpeg_decode_scan(
                payload, pos, frame, scan, qt, huff_dc, huff_ac,
                restart_interval, np)
        # APPn/COM and anything else: skipped by seglen
    return None


def _jpeg_decode_scan(payload, pos, frame, scan, qt, huff_dc,
                      huff_ac, restart_interval, np):
    w, h, comps = frame
    if w <= 0 or h <= 0:
        return None
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = (w + mcu_w - 1) // mcu_w
    mcus_y = (h + mcu_h - 1) // mcu_h
    idct = _jpeg_idct_matrix()
    planes = []
    for cid, ch, cv, tq in comps:
        planes.append(np.zeros((mcus_y * cv * 8, mcus_x * ch * 8),
                               dtype=np.float64))
    reader = _JpegBitReader(payload, pos)
    pred = [0] * len(comps)
    zz = np.asarray(_JPEG_ZIGZAG)
    n_mcu = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and n_mcu \
                    and n_mcu % restart_interval == 0:
                reader.align_to_marker()
                pred = [0] * len(comps)
            n_mcu += 1
            for ci, (cid, ch, cv, tq) in enumerate(comps):
                dc_tbl = huff_dc[scan[cid][0]]
                ac_tbl = huff_ac[scan[cid][1]]
                quant = qt[tq]
                for by in range(cv):
                    for bx in range(ch):
                        t = _huff_decode(reader, dc_tbl)
                        if t is None:
                            return None
                        diff = _jpeg_extend(reader.receive(t), t)
                        pred[ci] += diff
                        coef = np.zeros(64, dtype=np.int64)
                        coef[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = _huff_decode(reader, ac_tbl)
                            if rs is None:
                                return None
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                return None
                            coef[k] = _jpeg_extend(
                                reader.receive(s), s)
                            k += 1
                        block = np.zeros(64, dtype=np.float64)
                        block[zz] = coef * quant
                        px = idct.T @ block.reshape(8, 8) @ idct
                        y0 = (my * cv + by) * 8
                        x0 = (mx * ch + bx) * 8
                        planes[ci][y0:y0 + 8, x0:x0 + 8] = px + 128.0
    return _jpeg_assemble(planes, comps, w, h, hmax, vmax, np)


def _jpeg_assemble(planes, comps, w, h, hmax, vmax, np):
    """Upsample component planes to full resolution, crop, and
    convert BT.601 YCbCr->RGB (shared by the baseline and
    progressive reconstruction paths)."""
    full = []
    for ci, (cid, ch, cv, tq) in enumerate(comps):
        p = planes[ci]
        p = np.repeat(np.repeat(p, vmax // cv, axis=0),
                      hmax // ch, axis=1)
        full.append(p[:h, :w])
    if len(comps) == 1:
        g = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return (int(w), int(h), 1, np.repeat(g[:, :, None], 3,
                                             axis=2))
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return (int(w), int(h), 3,
            np.clip(np.round(rgb), 0, 255).astype(np.uint8))


class _JpegProgState:
    """Coefficient accumulator for a progressive (SOF2) frame: per
    component, a (blocks_y, blocks_x, 64) zigzag-order int array
    successive scans deposit into (spec T.81 §G: the image is coded
    as spectral bands refined by successive approximation across
    multiple scans; only after the last scan do dequantize + IDCT
    run once)."""

    def __init__(self, w, h, comps, np):
        self.w, self.h, self.comps = w, h, comps
        self.hmax = max(c[1] for c in comps)
        self.vmax = max(c[2] for c in comps)
        self.mcus_x = (w + 8 * self.hmax - 1) // (8 * self.hmax)
        self.mcus_y = (h + 8 * self.vmax - 1) // (8 * self.vmax)
        self.coefs = []       # per component, MCU-padded grid
        self.comp_blocks = []  # (bw, bh) the non-interleaved dims
        for cid, ch, cv, tq in comps:
            self.coefs.append(np.zeros(
                (self.mcus_y * cv, self.mcus_x * ch, 64),
                dtype=np.int64))
            bw = (-(-w * ch // self.hmax) + 7) // 8
            bh = (-(-h * cv // self.vmax) + 7) // 8
            self.comp_blocks.append((bw, bh))
        self.any_scan = False


def _jpeg_next_marker(data: bytes, pos: int) -> int:
    """Skip past entropy-coded bytes to the next real marker
    (stuffed FF00 and RSTn are entropy data, not segment starts)."""
    n = len(data)
    while pos + 1 < n:
        if data[pos] == 0xFF and data[pos + 1] != 0x00 \
                and not (0xD0 <= data[pos + 1] <= 0xD7):
            return pos
        pos += 1
    return n


def _jpeg_refine_nonzero(reader, coef, k, p1):
    """AC refinement of an existing nonzero coefficient (G.1.2.3):
    one correction bit; when set and the p1 magnitude bit is still
    clear, nudge the value away from zero by p1. Two's-complement
    ``&`` matches the spec's signed test (Python ints are infinite
    two's complement)."""
    if reader.read_bit() and (int(coef[k]) & p1) == 0:
        coef[k] += p1 if coef[k] > 0 else -p1


def _jpeg_prog_block(reader, coef, ss, se, ah, al, dc_tbl, ac_tbl,
                     pred, eobrun):
    """Decode ONE block's contribution for the current progressive
    scan. Returns (pred, eobrun) or None on a corrupt stream.
    ``coef`` is the block's 64-length zigzag view; ``pred`` the DC
    predictor (DC scans), ``eobrun`` the end-of-band run counter
    (AC scans)."""
    if ss == 0:
        if ah == 0:  # DC first: Huffman diff of the point transform
            t = _huff_decode(reader, dc_tbl)
            if t is None or t > 11:
                return None
            pred += _jpeg_extend(reader.receive(t), t)
            coef[0] = pred << al
        else:        # DC refinement: one bit per block
            if reader.read_bit():
                coef[0] = int(coef[0]) | (1 << al)
        return pred, eobrun
    p1 = 1 << al
    if ah == 0:  # AC first (G.1.2.2)
        if eobrun > 0:
            return pred, eobrun - 1
        k = ss
        while k <= se:
            rs = _huff_decode(reader, ac_tbl)
            if rs is None:
                return None
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r < 15:  # EOBn
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += reader.receive(r)
                    break
                k += 16  # ZRL
                continue
            k += r
            if k > se:
                return None
            coef[k] = _jpeg_extend(reader.receive(s), s) << al
            k += 1
        return pred, eobrun
    # AC refinement (G.1.2.3)
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _huff_decode(reader, ac_tbl)
            if rs is None:
                return None
            r, s = rs >> 4, rs & 15
            if s == 0 and r < 15:  # EOBn: rest of band refines below
                eobrun = 1 << r
                if r:
                    eobrun += reader.receive(r)
                break
            if s == 0:
                newval = 0  # ZRL: 16 zero-history positions
            elif s == 1:
                newval = p1 if reader.read_bit() else -p1
            else:
                return None  # only ±1 insertions are legal here
            # advance over r zero-history positions, refining any
            # nonzero-history coefficients passed on the way
            while k <= se:
                if coef[k] != 0:
                    _jpeg_refine_nonzero(reader, coef, k, p1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                coef[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:  # EOB band: correction bits only
            if coef[k] != 0:
                _jpeg_refine_nonzero(reader, coef, k, p1)
            k += 1
        eobrun -= 1
    return pred, eobrun


def _jpeg_progressive_scan(payload, pos, prog, sel, ss, se, ah, al,
                           huff_dc, huff_ac, restart_interval, np):
    """Decode one progressive SOS into the coefficient state and
    return the position of the next marker (None on corruption).
    DC scans (ss == 0) may interleave components per MCU; AC scans
    are single-component over that component's own block grid
    (T.81 G.1; B.2.3 requires Ns=1 when Ss > 0)."""
    if ss == 0:
        if se != 0:
            return None
    elif len(sel) != 1 or se < ss or se > 63:
        return None
    idx = {c[0]: i for i, c in enumerate(prog.comps)}
    try:
        members = [(idx[cid], dc, ac) for cid, dc, ac in sel]
    except KeyError:
        return None
    reader = _JpegBitReader(payload, pos)
    preds = [0] * len(prog.comps)
    eobrun = 0
    n_units = 0

    def unit_restart():
        nonlocal preds, eobrun
        reader.align_to_marker()
        preds = [0] * len(prog.comps)
        eobrun = 0

    try:
        if ss == 0 and len(members) > 1:
            # interleaved DC scan: MCU order, ch x cv blocks each
            for my in range(prog.mcus_y):
                for mx in range(prog.mcus_x):
                    if restart_interval and n_units and \
                            n_units % restart_interval == 0:
                        unit_restart()
                    n_units += 1
                    for ci, dc, ac in members:
                        _cid, ch, cv, _tq = prog.comps[ci]
                        for by in range(cv):
                            for bx in range(ch):
                                blk = prog.coefs[ci][
                                    my * cv + by, mx * ch + bx]
                                got = _jpeg_prog_block(
                                    reader, blk, 0, 0, ah, al,
                                    huff_dc.get(dc), None,
                                    preds[ci], 0)
                                if got is None:
                                    return None
                                preds[ci] = got[0]
        else:
            # non-interleaved: the component's own block raster
            ci, dc, ac = members[0]
            bw, bh = prog.comp_blocks[ci]
            for by in range(bh):
                for bx in range(bw):
                    if restart_interval and n_units and \
                            n_units % restart_interval == 0:
                        unit_restart()
                    n_units += 1
                    blk = prog.coefs[ci][by, bx]
                    got = _jpeg_prog_block(
                        reader, blk, ss, se, ah, al,
                        huff_dc.get(dc), huff_ac.get(ac),
                        preds[ci], eobrun)
                    if got is None:
                        return None
                    preds[ci], eobrun = got
    except (IndexError, KeyError, TypeError, AttributeError):
        return None  # truncated stream or missing Huffman table
    prog.any_scan = True
    return _jpeg_next_marker(payload, reader.pos)


def _jpeg_progressive_finish(prog, qt, np):
    """All scans landed: dequantize + IDCT every block at once
    (vectorized einsum over the padded block grids), then the same
    upsample/crop/color tail as baseline."""
    idct = _jpeg_idct_matrix()
    zz = np.asarray(_JPEG_ZIGZAG)
    planes = []
    for ci, (cid, ch, cv, tq) in enumerate(prog.comps):
        deq = prog.coefs[ci] * qt[tq]  # zigzag order
        bh, bw = deq.shape[:2]
        nat = np.zeros((bh, bw, 64), dtype=np.float64)
        nat[:, :, zz] = deq
        blocks = nat.reshape(bh, bw, 8, 8)
        # px[x, y] = sum_u sum_v C[u, x] B[u, v] C[v, y]
        px = np.einsum("ux,ijuv,vy->ijxy", idct, blocks, idct)
        planes.append(
            px.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8) + 128.0)
    return _jpeg_assemble(planes, prog.comps, prog.w, prog.h,
                          prog.hmax, prog.vmax, np)


JPEG_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("width", T.LongType(), True),
    T.StructField("height", T.LongType(), True),
    T.StructField("channels", T.LongType(), True),
    T.StructField("mean_r", T.DoubleType(), True),
    T.StructField("mean_g", T.DoubleType(), True),
    T.StructField("mean_b", T.DoubleType(), True),
])


def decode_jpeg_meta(media: DataFrame) -> DataFrame:
    """REAL JPEG decode (baseline SOF0 + progressive SOF2) through
    the Arrow path: dims + component count + per-channel means of
    the decoded raster. Arithmetic/12-bit payloads (outside the
    declared subset) and malformed input yield NULL metadata."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                m = _parse_jpeg_raster(p if p is not None else b"")
                if m is None:
                    rows.append((int(mid),) + (None,) * 6)
                    continue
                w, h, nc, rgb = m
                means = rgb.reshape(-1, 3).mean(axis=0)
                rows.append((int(mid), w, h, nc,
                             round(float(means[0]), 6),
                             round(float(means[1]), 6),
                             round(float(means[2]), 6)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in JPEG_META_SCHEMA])

    return media.mapInPandas(run, schema=JPEG_META_SCHEMA)


#: fixture Huffman layout: every DC category at code length 5,
#: every AC run/size symbol at length 9 (+1 at 10) — canonical,
#: Kraft-feasible, and the all-ones max-length code stays unused
_JFIX_DC_BITS = [0, 0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_JFIX_DC_VALS = list(range(12))
_JFIX_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0]
_JFIX_AC_VALS = list(range(256))


def _jfix_codes(bits, vals):
    """symbol -> (code, length) for the canonical table (the encoder
    side of _huff_table)."""
    out = {}
    code = k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, ln: int):
        self.acc = (self.acc << ln) | (code & ((1 << ln) - 1))
        self.nbits += ln
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)

    def marker(self, m: int):
        self.flush()
        self.out += bytes([0xFF, m])


def encode_jpeg_baseline(px, subsample=(1, 1),
                         restart_interval: int = 0) -> bytes:
    """Minimal baseline-JPEG writer — the encode counterpart of
    :func:`_parse_jpeg_raster` for tests/oracle fixtures. ``px`` is
    HxW (grayscale) or HxWx3 RGB uint8; ``subsample`` is the chroma
    (h, v) decimation ((2, 2) = 4:2:0). Quantization tables are all
    ones, so the only loss is DCT/color rounding — which lets tests
    verify the decoder against an independently computed forward
    transform to within tight bounds."""
    import struct

    import numpy as np

    arr = np.asarray(px, dtype=np.float64)
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    sh, sv = (1, 1) if gray else subsample
    if gray:
        planes = [arr]
        samps = [(1, 1)]
    else:
        r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y, cb[::sv, ::sh], cr[::sv, ::sh]]
        samps = [(sh, sv), (1, 1), (1, 1)]
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)

    def padded(p, ch, cv):
        th, tw = mcus_y * cv * 8, mcus_x * ch * 8
        out = np.empty((th, tw))
        ph, pw = p.shape
        out[:ph, :pw] = p
        out[ph:, :pw] = p[ph - 1:ph, :]
        out[:, pw:] = out[:, pw - 1:pw]
        return out

    planes = [padded(p, ch, cv)
              for p, (ch, cv) in zip(planes, samps)]
    cmat = _jpeg_idct_matrix()
    dc_codes = _jfix_codes(_JFIX_DC_BITS, _JFIX_DC_VALS)
    ac_codes = _jfix_codes(_JFIX_AC_BITS, _JFIX_AC_VALS)
    zz = np.asarray(_JPEG_ZIGZAG)

    wtr = _JpegBitWriter()
    wtr.out += b"\xFF\xD8"  # SOI
    wtr.out += b"\xFF\xDB" + struct.pack(">H", 67) + b"\x00" \
        + bytes([1] * 64)  # DQT id0, all ones
    nc = len(planes)
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci, (ch, cv) in enumerate(samps):
        sof += bytes([ci + 1, (ch << 4) | cv, 0])
    wtr.out += b"\xFF\xC0" + struct.pack(">H", 2 + len(sof)) + sof
    for tc, bits, vals in ((0, _JFIX_DC_BITS, _JFIX_DC_VALS),
                           (1, _JFIX_AC_BITS, _JFIX_AC_VALS)):
        body = bytes([tc << 4]) + bytes(bits) + bytes(vals)
        wtr.out += b"\xFF\xC4" + struct.pack(">H", 2 + len(body)) \
            + body
    if restart_interval:
        wtr.out += b"\xFF\xDD" + struct.pack(">HH", 4,
                                             restart_interval)
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0])
    sos += b"\x00\x3F\x00"
    wtr.out += b"\xFF\xDA" + struct.pack(">H", 2 + len(sos)) + sos

    def put_val(v):
        s = 0 if v == 0 else int(abs(v)).bit_length()
        raw = v if v >= 0 else v + (1 << s) - 1
        return s, raw

    pred = [0] * nc
    n_mcu = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and n_mcu \
                    and n_mcu % restart_interval == 0:
                wtr.marker(0xD0 + rst)
                rst = (rst + 1) & 7
                pred = [0] * nc
            n_mcu += 1
            for ci, (ch, cv) in enumerate(samps):
                for by in range(cv):
                    for bx in range(ch):
                        y0 = (my * cv + by) * 8
                        x0 = (mx * ch + bx) * 8
                        blk = planes[ci][y0:y0 + 8, x0:x0 + 8] - 128.0
                        coef = cmat @ blk @ cmat.T
                        q = np.round(coef).astype(np.int64)
                        zzc = q.reshape(64)[zz]
                        diff = int(zzc[0]) - pred[ci]
                        pred[ci] = int(zzc[0])
                        s, raw = put_val(diff)
                        wtr.put(*dc_codes[s])
                        if s:
                            wtr.put(raw, s)
                        run = 0
                        for k in range(1, 64):
                            v = int(zzc[k])
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                wtr.put(*ac_codes[0xF0])  # ZRL
                                run -= 16
                            s, raw = put_val(v)
                            wtr.put(*ac_codes[(run << 4) | s])
                            wtr.put(raw, s)
                            run = 0
                        if run:
                            wtr.put(*ac_codes[0x00])  # EOB
    wtr.marker(0xD9)  # EOI
    return bytes(wtr.out)


def encode_jpeg_progressive(px, subsample=(1, 1)) -> bytes:
    """Progressive (SOF2) JPEG writer — the encode counterpart of
    the decoder's §G path, for tests/fixtures. Uses a libjpeg-style
    scan script (spectral selection + successive approximation) that
    exercises all four progressive scan kinds: DC first, DC
    refinement, AC first, AC refinement, plus EOB runs and buffered
    correction bits. Quantization is all-ones and the forward
    transform is the same as :func:`encode_jpeg_baseline`, so the
    quantized coefficients are IDENTICAL — a progressive decode must
    reproduce the baseline decode of the same image bit-for-bit."""
    import struct

    import numpy as np

    arr = np.asarray(px, dtype=np.float64)
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    sh, sv = (1, 1) if gray else subsample
    if gray:
        planes = [arr]
        samps = [(1, 1)]
    else:
        r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y, cb[::sv, ::sh], cr[::sv, ::sh]]
        samps = [(sh, sv), (1, 1), (1, 1)]
    nc = len(planes)
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)

    def padded(p, ch, cv):
        th, tw = mcus_y * cv * 8, mcus_x * ch * 8
        out = np.empty((th, tw))
        ph, pw = p.shape
        out[:ph, :pw] = p
        out[ph:, :pw] = p[ph - 1:ph, :]
        out[:, pw:] = out[:, pw - 1:pw]
        return out

    cmat = _jpeg_idct_matrix()
    zz = np.asarray(_JPEG_ZIGZAG)
    coefs = []        # per comp: (bh_full, bw_full, 64) zigzag ints
    comp_blocks = []  # non-interleaved (bw, bh)
    for ci, (ch, cv) in enumerate(samps):
        p = padded(planes[ci], ch, cv)
        bh, bw = mcus_y * cv, mcus_x * ch
        q = np.zeros((bh, bw, 64), dtype=np.int64)
        for by in range(bh):
            for bx in range(bw):
                blk = p[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - 128.0
                # same per-block op order as encode_jpeg_baseline so
                # round() half-cases quantize identically — the
                # round-trip tests assert bit-equality of the two
                # encodings' decodes
                q[by, bx] = np.round(cmat @ blk @ cmat.T
                                     ).astype(np.int64).reshape(64)
        coefs.append(q[:, :, zz])
        comp_blocks.append(((-(-w * ch // hmax) + 7) // 8,
                            (-(-h * cv // vmax) + 7) // 8))

    dc_codes = _jfix_codes(_JFIX_DC_BITS, _JFIX_DC_VALS)
    ac_codes = _jfix_codes(_JFIX_AC_BITS, _JFIX_AC_VALS)
    wtr = _JpegBitWriter()
    wtr.out += b"\xFF\xD8"
    wtr.out += b"\xFF\xDB" + struct.pack(">H", 67) + b"\x00" \
        + bytes([1] * 64)
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci, (ch, cv) in enumerate(samps):
        sof += bytes([ci + 1, (ch << 4) | cv, 0])
    wtr.out += b"\xFF\xC2" + struct.pack(">H", 2 + len(sof)) + sof
    for tc, bits, vals in ((0, _JFIX_DC_BITS, _JFIX_DC_VALS),
                           (1, _JFIX_AC_BITS, _JFIX_AC_VALS)):
        body = bytes([tc << 4]) + bytes(bits) + bytes(vals)
        wtr.out += b"\xFF\xC4" + struct.pack(">H", 2 + len(body)) \
            + body

    def put_val(v):
        s = 0 if v == 0 else int(abs(v)).bit_length()
        raw = v if v >= 0 else v + (1 << s) - 1
        return s, raw

    def sos(members, ss, se, ah, al):
        body = bytes([len(members)])
        for ci in members:
            body += bytes([ci + 1, 0])  # dc table 0, ac table 0
        body += bytes([ss, se, (ah << 4) | al])
        wtr.out += b"\xFF\xDA" + struct.pack(
            ">H", 2 + len(body)) + body

    def dc_blocks(members):
        """Block iterator in scan order: MCU-interleaved for multi-
        component scans, the component's own raster otherwise."""
        if len(members) > 1:
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    for ci in members:
                        ch, cv = samps[ci]
                        for by in range(cv):
                            for bx in range(ch):
                                yield ci, coefs[ci][
                                    my * cv + by, mx * ch + bx]
        else:
            ci = members[0]
            bw, bh = comp_blocks[ci]
            for by in range(bh):
                for bx in range(bw):
                    yield ci, coefs[ci][by, bx]

    def scan_dc_first(members, al):
        sos(members, 0, 0, 0, al)
        preds = [0] * nc
        for ci, blk in dc_blocks(members):
            v = int(blk[0]) >> al  # arithmetic point transform
            s, raw = put_val(v - preds[ci])
            preds[ci] = v
            wtr.put(*dc_codes[s])
            if s:
                wtr.put(raw, s)
        wtr.flush()

    def scan_dc_refine(members, al):
        sos(members, 0, 0, al + 1, al)
        for _ci, blk in dc_blocks(members):
            wtr.put((int(blk[0]) >> al) & 1, 1)
        wtr.flush()

    def scan_ac_first(ci, ss, se, al):
        sos([ci], ss, se, 0, al)
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            if eobrun:
                nb = eobrun.bit_length() - 1
                wtr.put(*ac_codes[nb << 4])
                if nb:
                    wtr.put(eobrun - (1 << nb), nb)
                eobrun = 0

        bw, bh = comp_blocks[ci]
        for by in range(bh):
            for bx in range(bw):
                blk = coefs[ci][by, bx]
                # sign-preserving magnitude point transform (G.1.2.2)
                tv = [(abs(int(v)) >> al) * (1 if v >= 0 else -1)
                      for v in blk[ss:se + 1]]
                if not any(tv):
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob()
                    continue
                flush_eob()
                run = 0
                for v in tv:
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        wtr.put(*ac_codes[0xF0])
                        run -= 16
                    s, raw = put_val(v)
                    wtr.put(*ac_codes[(run << 4) | s])
                    wtr.put(raw, s)
                    run = 0
                if run:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob()
        flush_eob()
        wtr.flush()

    def scan_ac_refine(ci, ss, se, al):
        """G.1.2.3 encoder with libjpeg's buffered-bit discipline:
        ``buf[:be]`` holds correction bits belonging to the pending
        EOB run (emitted right after the EOBn symbol); bits past
        ``be`` belong to the current block and follow the next
        emitted symbol (ZRL or run|1 + sign)."""
        sos([ci], ss, se, al + 1, al)
        eobrun = 0
        buf: list = []
        be = 0

        def emit_cur():
            nonlocal be
            for bit in buf:
                wtr.put(bit, 1)
            buf.clear()
            be = 0

        def flush_eob():
            nonlocal eobrun, be
            if eobrun:
                nb = eobrun.bit_length() - 1
                wtr.put(*ac_codes[nb << 4])
                if nb:
                    wtr.put(eobrun - (1 << nb), nb)
                eobrun = 0
                for bit in buf[:be]:
                    wtr.put(bit, 1)
                del buf[:be]
                be = 0

        bw, bh = comp_blocks[ci]
        for by in range(bh):
            for bx in range(bw):
                blk = coefs[ci][by, bx]
                absv = [abs(int(v)) >> al for v in blk[ss:se + 1]]
                # last position that NEWLY becomes nonzero this scan
                eob = 0
                for i, t in enumerate(absv):
                    if t == 1:
                        eob = i
                run = 0
                for i, t in enumerate(absv):
                    if t == 0:
                        run += 1
                        continue
                    while run > 15 and i <= eob:
                        flush_eob()
                        wtr.put(*ac_codes[0xF0])
                        run -= 16
                        emit_cur()
                    if t > 1:  # history coefficient: correction bit
                        buf.append(t & 1)
                        continue
                    flush_eob()
                    wtr.put(*ac_codes[(run << 4) | 1])
                    run = 0
                    wtr.put(1 if blk[ss + i] > 0 else 0, 1)
                    emit_cur()
                if run > 0 or len(buf) > be:
                    eobrun += 1
                    be = len(buf)
                    if eobrun == 0x7FFF:
                        flush_eob()
        flush_eob()
        wtr.flush()

    # libjpeg-style script: coarse DC, luma low band, full chroma,
    # luma high band, then successive-approximation refinements
    scan_dc_first(list(range(nc)), 1)
    if nc == 1:
        scan_ac_first(0, 1, 5, 2)
        scan_ac_first(0, 6, 63, 2)
        scan_ac_refine(0, 1, 63, 1)
        scan_dc_refine(list(range(nc)), 0)
        scan_ac_refine(0, 1, 63, 0)
    else:
        scan_ac_first(0, 1, 5, 2)
        scan_ac_first(2, 1, 63, 1)
        scan_ac_first(1, 1, 63, 1)
        scan_ac_first(0, 6, 63, 2)
        scan_ac_refine(0, 1, 63, 1)
        scan_dc_refine(list(range(nc)), 0)
        scan_ac_refine(2, 1, 63, 0)
        scan_ac_refine(1, 1, 63, 0)
        scan_ac_refine(0, 1, 63, 0)
    wtr.marker(0xD9)
    return bytes(wtr.out)


def _gif_lzw_decode(data: bytes, mcs: int):
    """GIF-variant LZW decode (little-endian bit packing, variable
    code width mcs+1..12, CLEAR resets the table, EOI ends). Returns
    the palette-index list or None on a corrupt stream."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    table = {i: (i,) for i in range(clear)}
    dict_next, width = eoi + 1, mcs + 1
    prev = None
    acc = nbits = 0
    out: list = []
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = {i: (i,) for i in range(clear)}
                dict_next, width, prev = eoi + 1, mcs + 1, None
                continue
            if code == eoi:
                return out
            if prev is None:
                entry = table.get(code)
                if entry is None:
                    return None
            elif code in table:
                entry = table[code]
                table[dict_next] = prev + (entry[0],)
                dict_next += 1
            elif code == dict_next:
                entry = prev + (prev[0],)
                table[dict_next] = entry
                dict_next += 1
            else:
                return None
            out.extend(entry)
            prev = entry
            if dict_next >= (1 << width) and width < 12:
                width += 1
    return out


#: row emission order of an interlaced GIF frame (GIF89a spec
#: appendix E): pass offsets/strides (0,8) (4,8) (2,4) (1,2)
def _gif_interlace_order(h: int) -> list:
    return (list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2)))


def _parse_gif_raster(payload: bytes):
    """REAL GIF decode, library-free: logical screen + palette
    parsing, block walk (extensions skipped by sub-block length),
    LZW-decoded FIRST frame (local palette and interlacing
    honoured), and a full-file frame count. Returns (screen_w,
    screen_h, n_frames, frame HxWx3 uint8 rgb) or None on anything
    malformed."""
    import struct

    import numpy as np

    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h = struct.unpack("<HH", payload[6:10])
    packed = payload[10]
    pos, gct = 13, None
    if packed & 0x80:
        n = 2 << (packed & 7)
        if pos + 3 * n > len(payload):
            return None
        gct = np.frombuffer(payload[pos:pos + 3 * n],
                            np.uint8).reshape(-1, 3)
        pos += 3 * n
    n_frames, first = 0, None
    while pos < len(payload):
        b = payload[pos]
        pos += 1
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label byte + sub-blocks
            pos += 1
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            if pos + 9 > len(payload):
                return None
            _l, _t, fw, fh = struct.unpack("<HHHH",
                                           payload[pos:pos + 8])
            fp = payload[pos + 8]
            pos += 9
            lct = None
            if fp & 0x80:
                n = 2 << (fp & 7)
                if pos + 3 * n > len(payload):
                    return None
                lct = np.frombuffer(payload[pos:pos + 3 * n],
                                    np.uint8).reshape(-1, 3)
                pos += 3 * n
            if pos >= len(payload):
                return None
            mcs = payload[pos]
            pos += 1
            data = bytearray()
            while pos < len(payload) and payload[pos] != 0:
                ln = payload[pos]
                data += payload[pos + 1:pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            n_frames += 1
            if first is None:
                first = (fw, fh, bool(fp & 0x40),
                         lct if lct is not None else gct,
                         bytes(data), mcs)
        else:
            return None
    if first is None:
        return None
    fw, fh, interlaced, pal, data, mcs = first
    if pal is None or fw <= 0 or fh <= 0 or not 2 <= mcs <= 11:
        return None
    idx = _gif_lzw_decode(data, mcs)
    if idx is None or len(idx) < fw * fh:
        return None
    arr = np.asarray(idx[:fw * fh], dtype=np.int64).reshape(fh, fw)
    if interlaced:
        ordered = np.empty_like(arr)
        ordered[_gif_interlace_order(fh)] = arr
        arr = ordered
    if int(arr.max(initial=0)) >= len(pal):
        return None
    return (int(w), int(h), n_frames, pal[arr])


GIF_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("width", T.LongType(), True),
    T.StructField("height", T.LongType(), True),
    T.StructField("n_frames", T.LongType(), True),
    T.StructField("mean_r", T.DoubleType(), True),
    T.StructField("mean_g", T.DoubleType(), True),
    T.StructField("mean_b", T.DoubleType(), True),
])


def decode_gif_meta(media: DataFrame) -> DataFrame:
    """REAL GIF decode through the Arrow path: logical-screen dims,
    the FULL animation frame count, and per-channel means of the
    LZW-decoded first frame. Invalid payloads yield NULL metadata
    (kept, not dropped)."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                m = _parse_gif_raster(p if p is not None else b"")
                if m is None:
                    rows.append((int(mid),) + (None,) * 6)
                    continue
                w, h, nf, rgb = m
                means = rgb.reshape(-1, 3).mean(axis=0)
                rows.append((int(mid), w, h, nf,
                             round(float(means[0]), 6),
                             round(float(means[1]), 6),
                             round(float(means[2]), 6)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in GIF_META_SCHEMA])

    return media.mapInPandas(run, schema=GIF_META_SCHEMA)


def encode_gif(frames, palette, interlace_first: bool = False,
               with_extension: bool = False) -> bytes:
    """Minimal GIF89a writer — the encode counterpart of
    :func:`_parse_gif_raster` for tests/oracle fixtures. ``frames``
    is a list of HxW palette-index arrays (uniform size), ``palette``
    the global color table (padded to a power of two). The LZW
    stream emits a CLEAR before every literal — bloated but
    trivially in-spec (the decoder's table never grows), which keeps
    this writer obviously correct as a fixture generator."""
    import struct

    import numpy as np

    frames = [np.asarray(f, dtype=np.int64) for f in frames]
    h, w = frames[0].shape
    size = max(2, (len(palette) - 1).bit_length())
    mcs = max(2, size)
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    width = mcs + 1
    pal = list(palette) + [(0, 0, 0)] * ((1 << size) - len(palette))
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | (size - 1), 0, 0])
    out += b"".join(bytes(c) for c in pal)
    if with_extension:  # graphic control: exercised block skipping
        out += bytes([0x21, 0xF9, 4, 0, 0, 0, 0, 0])
    for i, fr in enumerate(frames):
        interlaced = interlace_first and i == 0
        out += b"\x2C" + struct.pack("<HHHH", 0, 0, w, h)
        out += bytes([0x40 if interlaced else 0])
        out += bytes([mcs])
        rows = fr[_gif_interlace_order(h)] if interlaced else fr
        acc = nbits = 0
        stream = bytearray()
        codes = []
        for px in rows.ravel():
            codes += [clear, int(px)]
        codes.append(eoi)
        for code in codes:
            acc |= code << nbits
            nbits += width
            while nbits >= 8:
                stream.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            stream.append(acc & 0xFF)
        for j in range(0, len(stream), 255):
            chunk = stream[j:j + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    return bytes(out + b"\x3B")


def encode_png(px, color_type: int = 2, filters=None,
               palette=None) -> bytes:
    """Minimal PNG writer (8-bit, non-interlaced) — the encode
    counterpart of :func:`_parse_png_raster`, used by tests and the
    oracle fixtures to build payloads that exercise every scanline
    filter type. ``px`` is an HxWxC (or HxW for gray/palette)
    uint8 array-like; ``filters`` selects one forward filter byte
    per row (default all 0/None); ``palette`` is the PLTE RGB list
    for color type 3."""
    import struct
    import zlib

    import numpy as np

    arr = np.asarray(px, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, bpp = arr.shape
    assert bpp == _PNG_CHANNELS[color_type], "channel/type mismatch"
    flat = arr.reshape(h, w * bpp).astype(np.int64)
    filters = [0] * h if filters is None else list(filters)
    raw = bytearray()
    prev = np.zeros(w * bpp, dtype=np.int64)
    for y in range(h):
        line, f = flat[y], filters[y]
        left = np.zeros_like(line)
        left[bpp:] = line[:-bpp]
        pleft = np.zeros_like(prev)
        pleft[bpp:] = prev[:-bpp]
        if f == 0:
            enc = line
        elif f == 1:
            enc = line - left
        elif f == 2:
            enc = line - prev
        elif f == 3:
            enc = line - ((left + prev) >> 1)
        elif f == 4:
            p = left + prev - pleft
            pa, pb, pc = (np.abs(p - left), np.abs(p - prev),
                          np.abs(p - pleft))
            pr = np.where((pa <= pb) & (pa <= pc), left,
                          np.where(pb <= pc, prev, pleft))
            enc = line - pr
        else:
            raise ValueError(f"unknown filter {f}")
        raw.append(f)
        raw += (enc & 0xFF).astype(np.uint8).tobytes()
        prev = line

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I",
                              zlib.crc32(ctype + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    out = _PNG_SIG + chunk(b"IHDR", ihdr)
    if color_type == 3:
        out += chunk(b"PLTE", b"".join(bytes(c) for c in palette))
    out += chunk(b"IDAT", zlib.compress(bytes(raw)))
    return out + chunk(b"IEND", b"")


PNG_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("width", T.LongType(), True),
    T.StructField("height", T.LongType(), True),
    T.StructField("channels", T.LongType(), True),
    T.StructField("mean_r", T.DoubleType(), True),
    T.StructField("mean_g", T.DoubleType(), True),
    T.StructField("mean_b", T.DoubleType(), True),
])


def decode_png_meta(media: DataFrame) -> DataFrame:
    """REAL PNG decode through the same Arrow path as
    :func:`decode_ppm_meta`: dims + source channel count + per-RGB-
    channel mean of the decoded raster (gray broadcast, alpha
    dropped, palette resolved). Invalid / out-of-subset payloads
    yield NULL metadata (kept, not dropped)."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                m = _parse_png_raster(p if p is not None else b"")
                if m is None:
                    rows.append((int(mid),) + (None,) * 6)
                    continue
                w, h, bpp, rgb = m
                means = rgb.reshape(-1, 3).mean(axis=0)
                rows.append((int(mid), w, h, bpp,
                             round(float(means[0]), 6),
                             round(float(means[1]), 6),
                             round(float(means[2]), 6)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in PNG_META_SCHEMA])

    return media.mapInPandas(run, schema=PNG_META_SCHEMA)


WAV_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("channels", T.LongType(), True),
    T.StructField("sample_rate", T.LongType(), True),
    T.StructField("bits", T.LongType(), True),
    T.StructField("n_samples", T.LongType(), True),
    T.StructField("duration_s", T.DoubleType(), True),
    T.StructField("rms", T.DoubleType(), True),
])


def _parse_wav_pcm(payload: bytes):
    """RIFF/WAVE chunk walk for PCM16: returns (channels, rate,
    interleaved int16 samples ndarray) or None."""
    import struct

    import numpy as np

    if len(payload) < 44 or payload[:4] != b"RIFF" \
            or payload[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        (sz,) = struct.unpack("<I", payload[pos + 4:pos + 8])
        body = payload[pos + 8:pos + 8 + sz]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or data is None or len(fmt) < 16:
        return None
    _, channels, rate, _, _, bits = struct.unpack("<HHIIHH", fmt[:16])
    if bits != 16 or channels < 1 or rate < 1:
        return None
    samples = np.frombuffer(
        data[:len(data) - len(data) % (2 * channels)], dtype="<i2")
    return (channels, rate, samples)


def _parse_wav(payload: bytes):
    """RIFF/WAVE with PCM16 'fmt ' + 'data' chunks. Returns
    (channels, rate, bits, n_samples, duration, rms) or None."""
    import numpy as np

    parsed = _parse_wav_pcm(payload)
    if parsed is None:
        return None
    channels, rate, samples = parsed
    n = len(samples) // channels
    rms = float(np.sqrt(np.mean(samples.astype("float64") ** 2))) \
        if len(samples) else 0.0
    return (channels, rate, 16, n, round(n / rate, 6),
            round(rms, 6))


def decode_wav_meta(media: DataFrame) -> DataFrame:
    """REAL audio decode for RIFF/PCM16 WAV payloads: format chunk +
    sample count + RMS amplitude, pure struct/numpy."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                m = _parse_wav(p if p is not None else b"")
                rows.append((int(mid),) + (m if m else (None,) * 6))
            yield pd.DataFrame(
                rows, columns=[f.name for f in WAV_META_SCHEMA])

    return media.mapInPandas(run, schema=WAV_META_SCHEMA)


WAV_FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("n_frames", T.LongType(), True),
    T.StructField("dominant_hz", T.DoubleType(), True),
    T.StructField("spectral_centroid_hz", T.DoubleType(), True),
    T.StructField("rms", T.DoubleType(), True),
])


def wav_features(media: DataFrame, frame: int = 256,
                 hop: int = 128) -> DataFrame:
    """REAL audio feature extraction for RIFF/PCM16 payloads: a
    numpy STFT (rectangular window, ``frame`` samples every ``hop``)
    over the channel-mean signal, yielding the clip's dominant
    frequency (argmax of the mean magnitude spectrum, DC excluded),
    spectral centroid (magnitude-weighted mean frequency), and RMS.
    One rfft per clip batch row — row-local, Arrow-batched, a pure
    map at any corpus size; clips shorter than one frame and invalid
    payloads yield NULLs. Output frequencies in Hz, 6 decimals."""

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                parsed = _parse_wav_pcm(p if p is not None else b"")
                if parsed is None:
                    rows.append((int(mid),) + (None,) * 4)
                    continue
                channels, rate, samples = parsed
                n = len(samples) // channels
                if n < frame:
                    rows.append((int(mid),) + (None,) * 4)
                    continue
                sig = (samples[:n * channels]
                       .reshape(n, channels)
                       .mean(axis=1))
                n_frames = 1 + (n - frame) // hop
                idx = (np.arange(frame)[None, :]
                       + hop * np.arange(n_frames)[:, None])
                spec = np.abs(np.fft.rfft(sig[idx], axis=1))
                mag = spec.mean(axis=0)
                freqs = np.fft.rfftfreq(frame, d=1.0 / rate)
                dom = int(np.argmax(mag[1:])) + 1  # exclude DC
                tot = mag[1:].sum()
                centroid = float(
                    (freqs[1:] * mag[1:]).sum() / tot) \
                    if tot > 0 else 0.0
                rms = float(np.sqrt(np.mean(sig ** 2)))
                rows.append((int(mid), int(n_frames),
                             round(float(freqs[dom]), 6),
                             round(centroid, 6), round(rms, 6)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in WAV_FEATURES_SCHEMA])

    return media.mapInPandas(run, schema=WAV_FEATURES_SCHEMA)


def _landmarks_of_wav(np, payload: bytes, frame: int, hop: int,
                      peaks_per_frame: int, fan_out: int,
                      dt_max: int):
    """Per-clip landmark extraction (peak-constellation hashing,
    the public scheme of Wang 2003): STFT → top-k spectral peak
    bins per frame (DC excluded, stable (-mag, bin) order) → each
    peak pairs with the next ``fan_out`` peaks within ``dt_max``
    frames → hash packs (f1, f2, dt) into one int. Returns a list
    of (t1_frame, fp) or None for invalid/too-short payloads."""
    parsed = _parse_wav_pcm(payload)
    if parsed is None:
        return None
    channels, rate, samples = parsed
    n = len(samples) // channels
    if n < frame:
        return None
    sig = samples[:n * channels].reshape(n, channels).mean(axis=1)
    n_frames = 1 + (n - frame) // hop
    idx = (np.arange(frame)[None, :]
           + hop * np.arange(n_frames)[:, None])
    spec = np.abs(np.fft.rfft(sig[idx], axis=1))
    peaks = []          # (t, bin) in time order, stable peak order
    for t in range(n_frames):
        mag = spec[t]
        order = np.lexsort((np.arange(1, len(mag)), -mag[1:]))
        for b in order[:peaks_per_frame]:
            peaks.append((t, int(b) + 1))
    out = []
    for i, (t1, f1) in enumerate(peaks):
        paired = 0
        for t2, f2 in peaks[i + 1:]:
            dt = t2 - t1
            if dt <= 0:
                continue
            if dt > dt_max or paired >= fan_out:
                break
            fp = (f1 << 15) | (f2 << 6) | dt
            out.append((t1, fp))
            paired += 1
    return out


def audio_fingerprint(media: DataFrame, frame: int = 512,
                      hop: int = 256, peaks_per_frame: int = 3,
                      fan_out: int = 5,
                      dt_max: int = 32) -> DataFrame:
    """Landmark audio fingerprints for near-duplicate / containment
    detection over an audio corpus — the audio twin of MinHash/pHash
    dedup: one row per landmark (media_id, t1, fp), where fp packs
    (peak-bin-1, peak-bin-2, frame-delta). Landmarks are local (a
    time shift changes t1 but not fp), so two encodings or an
    excerpt of the same recording share most fps — match them with
    :func:`audio_match_pairs`. Row-local Arrow map (one rfft batch
    per clip); invalid/too-short payloads yield no rows."""
    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("t1", T.LongType()),
        T.StructField("fp", T.LongType()),
    ])

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                lms = _landmarks_of_wav(
                    np, bytes(p) if p is not None else b"",
                    frame, hop, peaks_per_frame, fan_out, dt_max)
                if lms is None:
                    continue
                rows.extend((int(mid), t, fp) for t, fp in lms)
            yield pd.DataFrame(rows,
                               columns=["media_id", "t1", "fp"])

    return media.mapInPandas(run, schema=schema)


def audio_match_pairs(media: DataFrame, min_matches: int = 5,
                      **fp_opts) -> DataFrame:
    """Audio near-dup/containment pairs: fingerprint landmarks
    self-joined on fp, then the classic time-offset histogram —
    a true match aligns many landmarks at ONE constant offset
    (t1_a − t1_b), noise spreads across offsets. One equi-join on
    the fp hash + one groupBy: never all-pairs, and the join key is
    a 24-bit-ish hash with natural selectivity — the 100 TB shape.
    Output: (id_a, id_b, offset, n_matches) for the best-aligned
    offset of every pair clearing ``min_matches``."""
    # both join sides read ONE exchange on fp (ReusedExchange), so
    # the landmarks are fingerprinted once per action
    fps = audio_fingerprint(media, **fp_opts).repartition("fp")
    a, b = fps.alias("a"), fps.alias("b")
    hist = (a.join(b, (F.col("a.fp") == F.col("b.fp"))
                   & (F.col("a.media_id") < F.col("b.media_id")))
            .groupBy(F.col("a.media_id").alias("id_a"),
                     F.col("b.media_id").alias("id_b"),
                     (F.col("a.t1") - F.col("b.t1")).alias("offset"))
            .agg(F.count(F.lit(1)).alias("n_matches")))
    w = Window.partitionBy("id_a", "id_b").orderBy(
        F.desc("n_matches"), F.asc("offset"))
    return (hist.withColumn("_rk", F.row_number().over(w))
            .where((F.col("_rk") == 1)
                   & (F.col("n_matches") >= min_matches))
            .drop("_rk"))


def video_phash_frames(media: DataFrame, every_n: int = 1,
                       hash_size: int = 8) -> DataFrame:
    """Per-frame perceptual hashes of really-decoded video: H.264
    frames (mp4 avc1 tracks decoded statefully in sample order, or
    multi-frame Annex B) through the exact-integer pHash kernel.
    One row per sampled decoded frame: (media_id, frame_idx,
    phash). Row-local Arrow map; undecodable payloads yield no
    rows. The video twin of :func:`image_phash` — feed
    :func:`video_match_pairs` for near-dup/excerpt detection."""
    from . import h264 as _h264

    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("phash", T.LongType()),
    ])

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                p = bytes(p) if p is not None else b""
                mid = int(mid)
                frames = None
                m = _parse_mp4(p)
                if m is not None and m["avcc"] is not None:
                    track = b"".join(p[off:off + sz]
                                     for off, sz in m["samples"])
                    frames = _h264.decode_h264_frames(
                        track, avcc=m["avcc"],
                        max_frames=len(m["samples"]))
                elif (p[:4] == b"\x00\x00\x00\x01"
                        or p[:3] == b"\x00\x00\x01"):
                    frames = _h264.decode_h264_frames(p)
                if frames is None:
                    continue
                for i in range(0, len(frames), every_n):
                    _w, _h, planes = frames[i]
                    rgb = _h264._yuv420_to_rgb(*planes)
                    rows.append((mid, i,
                                 _phash_of_rgb(np, rgb, hash_size)))
            out = pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "phash"])
            out["phash"] = pd.array([r[2] for r in rows],
                                    dtype="Int64")
            yield out

    return media.mapInPandas(run, schema=schema)


def video_match_pairs(media: DataFrame, max_hamming: int = 8,
                      min_matches: int = 2, bands: int = 4,
                      every_n: int = 1,
                      max_bucket: int | None = None) -> DataFrame:
    """Video near-dup/excerpt pairs — the offset-histogram scheme of
    :func:`audio_match_pairs` over per-frame pHashes: frame pairs
    within ``max_hamming`` found by the banded Hamming join (lossy
    re-encodes of the same content land a few bits apart, so exact
    hash equality is the wrong key), then grouped by the frame-index
    offset — a true copy/excerpt aligns many frames at ONE constant
    offset. Never all-pairs: banding + bit_count verify, one extra
    groupBy. Output: (id_a, id_b, offset, n_matches) for each
    pair's best-aligned offset clearing ``min_matches``."""
    from .dedup import hamming_pairs

    sig = video_phash_frames(media, every_n=every_n)
    # pack (media, frame) into one id for the generic pair join;
    # frame counts stay far below 2^20
    packed = sig.select(
        (F.col("media_id") * F.lit(1 << 20)
         + F.col("frame_idx")).alias("fid"),
        "phash")
    fp = hamming_pairs(packed, sig_col="phash", id_col="fid",
                       bits=64, bands=bands,
                       max_hamming=max_hamming,
                       max_bucket=max_bucket)
    pairs = fp.select(
        F.shiftright(F.col("id_a"), 20).alias("ma"),
        (F.col("id_a") % F.lit(1 << 20)).alias("fa"),
        F.shiftright(F.col("id_b"), 20).alias("mb"),
        (F.col("id_b") % F.lit(1 << 20)).alias("fb")) \
        .where(F.col("ma") != F.col("mb"))
    # normalize pair order (the packed ids order by (media, frame),
    # which can interleave for frame-level pairs)
    norm = pairs.select(
        F.least("ma", "mb").alias("id_a"),
        F.greatest("ma", "mb").alias("id_b"),
        F.when(F.col("ma") < F.col("mb"),
               F.col("fa") - F.col("fb"))
        .otherwise(F.col("fb") - F.col("fa")).alias("offset"))
    hist = (norm.groupBy("id_a", "id_b", "offset")
            .agg(F.count(F.lit(1)).alias("n_matches")))
    w = Window.partitionBy("id_a", "id_b").orderBy(
        F.desc("n_matches"), F.asc("offset"))
    return (hist.withColumn("_rk", F.row_number().over(w))
            .where((F.col("_rk") == 1)
                   & (F.col("n_matches") >= min_matches))
            .drop("_rk"))


def build_media_dedup_index(media: DataFrame, path: str,
                            bands: int = 4,
                            subdir: str | None = None,
                            **fp_opts) -> None:
    """Persist (or extend) the MEDIA dedup index for a crawl
    pipeline — the multimodal twin of ``dedup.build_dedup_index``:
    ``{path}/phash_bands`` holds the banded pHash rows of every
    decodable image, partitioned by band (probes prune to their
    band's directory); ``{path}/audio_fp`` holds every audio
    landmark (media_id, t1, fp). History is then only ever touched
    through these hashes+ids — a few hundred bytes per asset at
    100 TB, never the payload bytes. Probe with the SAME ``bands``/
    fingerprint options.

    ``subdir`` selects the same two layouts as
    ``dedup.build_dedup_index``: None → flat mode-append (one-shot
    batch build); ``"batch=<id>"`` → per-delta subdirectory with
    mode OVERWRITE, so a redelivered streaming batch replaces its
    own delta instead of appending twice. Never mix layouts in one
    index."""
    from .dedup import banded_bits

    ph_dir = path + "/phash_bands" + (f"/{subdir}" if subdir else "")
    au_dir = path + "/audio_fp" + (f"/{subdir}" if subdir else "")
    mode = "overwrite" if subdir else "append"
    sig = image_phash(media).where(F.col("phash").isNotNull())
    (banded_bits(sig, "phash", "media_id", bits=64, bands=bands)
     .withColumnRenamed("_id", "media_id")
     .withColumnRenamed("_sig", "phash")
     .write.mode(mode).partitionBy("band")
     .parquet(ph_dir))
    (audio_fingerprint(media, **fp_opts)
     .write.mode(mode).parquet(au_dir))


def media_dedup_incremental(media: DataFrame, path: str,
                            max_hamming: int = 6,
                            min_matches: int = 5, bands: int = 4,
                            max_bucket: int | None = None,
                            **fp_opts) -> DataFrame:
    """Dedup a NEW media batch against the persisted index: image
    hits via the banded Hamming probe of ``{path}/phash_bands``
    (bit_count verify ≤ max_hamming), audio hits via the landmark
    join against ``{path}/audio_fp`` with the time-offset histogram
    clearing ``min_matches``. Per new asset the single best match
    wins (image: smallest hamming then smallest match_id; audio:
    most aligned matches). Self-matches are excluded, so redelivered
    batches that already extended the index probe cleanly (the
    streaming-sink property). Both joins are hash-equi with the new
    side small by definition — the historical corpus is touched
    only through its index. Output: (media_id, match_id, kind,
    score) where kind is 'image' (score = hamming) or 'audio'
    (score = n_matches at the best offset)."""
    from .dedup import _cap_hot_buckets, banded_bits

    spark = media.sparkSession
    sig = image_phash(media).where(F.col("phash").isNotNull())
    probe = banded_bits(sig, "phash", "media_id", bits=64,
                        bands=bands)
    probe = _cap_hot_buckets(probe, ["band", "key"], max_bucket)
    idx = spark.read.parquet(path + "/phash_bands").select(
        F.col("media_id").alias("match_id"),
        F.col("phash").alias("isig"), "band", "key")
    ham = F.bit_count(F.col("_sig").bitwiseXOR(F.col("isig")))
    image = (probe.join(idx, ["band", "key"])
             .where(F.col("_id") != F.col("match_id"))
             .select(F.col("_id").alias("media_id"), "match_id",
                     ham.alias("hamming"))
             .where(F.col("hamming") <= max_hamming)
             .groupBy("media_id")
             .agg(F.min(F.struct("hamming", "match_id")).alias("w"))
             .select("media_id", F.col("w.match_id").alias("match_id"),
                     F.lit("image").alias("kind"),
                     F.col("w.hamming").cast("long").alias("score")))
    fps = audio_fingerprint(media, **fp_opts)
    idx_fp = spark.read.parquet(path + "/audio_fp").select(
        F.col("media_id").alias("match_id"),
        F.col("t1").alias("t1_idx"), "fp")
    audio = (fps.join(idx_fp, "fp")
             .where(F.col("media_id") != F.col("match_id"))
             .groupBy("media_id", "match_id",
                      (F.col("t1") - F.col("t1_idx")).alias("off"))
             .agg(F.count(F.lit(1)).alias("n_matches"))
             .where(F.col("n_matches") >= min_matches)
             .groupBy("media_id")
             .agg(F.max(F.struct(
                 "n_matches",
                 (-F.col("match_id")).alias("neg"))).alias("w"))
             .select("media_id",
                     (-F.col("w.neg")).alias("match_id"),
                     F.lit("audio").alias("kind"),
                     F.col("w.n_matches").cast("long")
                     .alias("score")))
    return image.unionByName(audio)


PPM_RESIZE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("width", T.LongType(), True),
    T.StructField("height", T.LongType(), True),
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("mean_r", T.DoubleType(), True),
    T.StructField("mean_g", T.DoubleType(), True),
    T.StructField("mean_b", T.DoubleType(), True),
])


def resize_ppm(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """REAL nearest-neighbor resize for P6 PPM payloads (the
    library-free counterpart of the stubbed codec resize): source
    pixel for output (y, x) is (y·h_src // h_out, x·w_src // w_out),
    re-encoded as a new P6 payload. One numpy fancy-index per image,
    Arrow-batched through mapInPandas — the per-image work is
    row-local, so the operator is a pure map at any corpus size.
    Invalid payloads yield NULL metadata (kept, not dropped).
    Output: (media_id, width, height, payload, n_bytes,
    mean_r/g/b of the thumbnail, 6 decimals)."""

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                parsed = _parse_ppm_raster(p if p is not None else b"")
                if parsed is None:
                    rows.append((int(mid),) + (None,) * 7)
                    continue
                w, h, maxval, img = parsed
                ys = (np.arange(out_h) * h) // out_h
                xs = (np.arange(out_w) * w) // out_w
                thumb = img[ys][:, xs]
                payload = (b"P6\n%d %d\n%d\n"
                           % (out_w, out_h, maxval)) + thumb.tobytes()
                means = thumb.reshape(-1, 3).mean(axis=0)
                rows.append((int(mid), out_w, out_h, payload,
                             len(payload),
                             round(float(means[0]), 6),
                             round(float(means[1]), 6),
                             round(float(means[2]), 6)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in PPM_RESIZE_SCHEMA])

    return media.mapInPandas(run, schema=PPM_RESIZE_SCHEMA)


WAV_RESAMPLE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("sample_rate", T.LongType(), True),
    T.StructField("n_samples", T.LongType(), True),
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("rms", T.DoubleType(), True),
])


def resample_wav(media: DataFrame, out_rate: int) -> DataFrame:
    """REAL linear-interpolation resample for RIFF/PCM16 payloads —
    the library-free counterpart of a stubbed codec transcoder.
    Output frame ``i`` sits at source position ``i·rate/out_rate``;
    each channel interpolates ``s0·(1−f) + s1·f`` between the two
    neighbouring source frames (last frame clamps), rounds
    half-to-even back to int16, and re-encodes a valid PCM16 WAV at
    ``out_rate`` (``n_out = n·out_rate // rate`` frames). One
    vectorized numpy pass per clip, Arrow-batched through
    mapInPandas — row-local, a pure map at any corpus size. Invalid
    payloads yield NULLs (kept, not dropped). Output: (media_id,
    sample_rate, n_samples, payload, n_bytes, rms of the resampled
    int16 stream, 6 decimals)."""
    import struct

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                parsed = _parse_wav_pcm(p if p is not None else b"")
                if parsed is None:
                    rows.append((int(mid),) + (None,) * 5)
                    continue
                channels, rate, samples = parsed
                n = len(samples) // channels
                frames = samples[:n * channels] \
                    .reshape(n, channels).astype("float64")
                n_out = (n * out_rate) // rate
                if n == 0 or n_out == 0:
                    rows.append((int(mid),) + (None,) * 5)
                    continue
                pos = np.arange(n_out, dtype="float64") \
                    * rate / out_rate
                i0 = np.floor(pos).astype("int64")
                frac = (pos - i0)[:, None]
                i1 = np.minimum(i0 + 1, n - 1)
                y = frames[i0] * (1.0 - frac) + frames[i1] * frac
                out = np.clip(np.round(y), -32768, 32767) \
                    .astype("<i2")
                data = out.tobytes()
                fmt = struct.pack("<HHIIHH", 1, channels, out_rate,
                                  out_rate * channels * 2,
                                  channels * 2, 16)
                body = b"fmt " + struct.pack("<I", len(fmt)) + fmt \
                    + b"data" + struct.pack("<I", len(data)) + data
                payload = b"RIFF" + struct.pack("<I", 4 + len(body)) \
                    + b"WAVE" + body
                flat = out.astype("float64").ravel()
                rms = round(float(np.sqrt(np.mean(flat ** 2))), 6)
                rows.append((int(mid), out_rate, int(n_out), payload,
                             len(payload), rms))
            yield pd.DataFrame(
                rows, columns=[f.name for f in WAV_RESAMPLE_SCHEMA])

    return media.mapInPandas(run, schema=WAV_RESAMPLE_SCHEMA)


# ------------------------------------------------------------- MP4
# ISO Base Media File Format (ISO/IEC 14496-12, the public BMFF
# spec): a pure-struct box walk — ftyp → moov → mvhd + trak(tkhd,
# mdia(mdhd, hdlr, minf(stbl(stsd, stts, stsc, stsz, stco/co64)))).
# This replaces the r5 length-derived video STUB with REAL container
# metadata (frame count, dimensions, duration, codec fourcc,
# per-sample file offsets); baseline-intra H.264 PIXELS decode for
# real via operators/h264.py (decode_video_frames below) — only the
# inter/CABAC/H.265 codec tail stays stubbed (needs ffmpeg). Same
# Arrow-batched mapInPandas shape as the GIF/PNG/WAV decoders.

MP4_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("n_bytes", T.LongType(), False),
    T.StructField("brand", T.StringType(), True),
    T.StructField("codec", T.StringType(), True),
    T.StructField("width", T.LongType(), True),
    T.StructField("height", T.LongType(), True),
    T.StructField("n_frames", T.LongType(), True),
    T.StructField("duration_s", T.DoubleType(), True),
])

MP4_FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("frame_idx", T.LongType(), False),
    T.StructField("sample_offset", T.LongType(), True),
    T.StructField("sample_size", T.LongType(), True),
])


def _mp4_boxes(buf: bytes, start: int, end: int):
    """Yield (type, body_start, box_end) for each box in a range.
    Handles 64-bit largesize (size==1) and to-end boxes (size==0);
    stops at the first malformed header."""
    pos = start
    while pos + 8 <= end:
        size = int.from_bytes(buf[pos:pos + 4], "big")
        btype = buf[pos + 4:pos + 8]
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                return
            size = int.from_bytes(buf[pos + 8:pos + 16], "big")
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            return
        yield btype, pos + hdr, pos + size
        pos += size


def _mp4_find(buf: bytes, start: int, end: int, btype: bytes):
    for t, s, e in _mp4_boxes(buf, start, end):
        if t == btype:
            return s, e
    return None


def _parse_mp4(payload: bytes):
    """Full-metadata MP4/ISO-BMFF parse. Returns a dict with brand,
    codec fourcc, width/height (from tkhd 16.16 fixed point),
    n_frames (stsz sample count of the video track), duration_s
    (mvhd duration/timescale), and per-sample (offset, size) built
    from the stsc sample-to-chunk map + stco/co64 chunk offsets +
    stsz sizes — or None when the payload is not BMFF."""
    buf = payload
    n = len(buf)
    if n < 16:
        return None
    top = list(_mp4_boxes(buf, 0, n))
    types = [t for t, _, _ in top]
    if b"ftyp" not in types or b"moov" not in types:
        return None
    fs, _fe = next((s, e) for t, s, e in top if t == b"ftyp")
    brand = buf[fs:fs + 4].decode("latin1")
    ms, me = next((s, e) for t, s, e in top if t == b"moov")

    duration_s = None
    mvhd = _mp4_find(buf, ms, me, b"mvhd")
    if mvhd:
        s, e = mvhd
        ver = buf[s]
        if ver == 1 and e - s >= 28:
            ts = int.from_bytes(buf[s + 20:s + 24], "big")
            dur = int.from_bytes(buf[s + 24:s + 32], "big")
        elif e - s >= 20:
            ts = int.from_bytes(buf[s + 12:s + 16], "big")
            dur = int.from_bytes(buf[s + 16:s + 20], "big")
        else:
            ts = 0
            dur = 0
        if ts:
            duration_s = round(dur / ts, 6)

    best = None  # prefer the 'vide' handler track
    for t, s, e in _mp4_boxes(buf, ms, me):
        if t != b"trak":
            continue
        trk = _parse_mp4_track(buf, s, e)
        if trk is None:
            continue
        if trk["handler"] == b"vide":
            best = trk
            break
        if best is None:
            best = trk
    if best is None:
        return None
    return {
        "brand": brand,
        "codec": best["codec"],
        "avcc": best.get("avcc"),
        "width": best["width"],
        "height": best["height"],
        "n_frames": best["n_frames"],
        "duration_s": duration_s,
        "samples": best["samples"],  # [(offset, size)]
    }


def _parse_mp4_track(buf: bytes, s: int, e: int):
    tkhd = _mp4_find(buf, s, e, b"tkhd")
    width = height = None
    if tkhd:
        ts_, te_ = tkhd
        ver = buf[ts_]
        # v0: c4 m4 id4 res4 dur4 | v1: c8 m8 id4 res4 dur8; then
        # res8 layer2 alt2 vol2 res2 matrix36, width4 height4 (16.16)
        off = ts_ + 4 + (32 if ver == 1 else 20) + 8 + 2 + 2 + 2 + 2 + 36
        if off + 8 <= te_:
            width = int.from_bytes(buf[off:off + 4], "big") >> 16
            height = int.from_bytes(buf[off + 4:off + 8], "big") >> 16
    mdia = _mp4_find(buf, s, e, b"mdia")
    if mdia is None:
        return None
    handler = b"\x00" * 4
    hdlr = _mp4_find(buf, mdia[0], mdia[1], b"hdlr")
    if hdlr:
        hs, he = hdlr
        if he - hs >= 12:
            handler = buf[hs + 8:hs + 12]
    minf = _mp4_find(buf, mdia[0], mdia[1], b"minf")
    if minf is None:
        return None
    stbl = _mp4_find(buf, minf[0], minf[1], b"stbl")
    if stbl is None:
        return None
    bs, be = stbl

    codec = None
    avcc = None
    stsd = _mp4_find(buf, bs, be, b"stsd")
    if stsd:
        ss, se = stsd
        # fullbox(4) + entry_count(4), then the first sample entry
        for t2, s2, e2 in _mp4_boxes(buf, ss + 8, se):
            codec = t2.decode("latin1")
            # VisualSampleEntry: 78 fixed bytes, then config boxes
            if e2 - s2 > 78:
                got = _mp4_find(buf, s2 + 78, e2, b"avcC")
                if got:
                    avcc = buf[got[0]:got[1]]
            break

    # sample sizes
    sizes = []
    stsz = _mp4_find(buf, bs, be, b"stsz")
    if stsz:
        zs, ze = stsz
        if ze - zs >= 12:
            uniform = int.from_bytes(buf[zs + 4:zs + 8], "big")
            count = int.from_bytes(buf[zs + 8:zs + 12], "big")
            if uniform:
                sizes = [uniform] * count
            else:
                need = zs + 12 + 4 * count
                if need <= ze:
                    sizes = [int.from_bytes(
                        buf[zs + 12 + 4 * i:zs + 16 + 4 * i], "big")
                        for i in range(count)]
    n_frames = len(sizes)

    # chunk offsets (stco 32-bit or co64)
    offsets = []
    stco = _mp4_find(buf, bs, be, b"stco")
    co64 = _mp4_find(buf, bs, be, b"co64")
    if stco:
        cs, ce = stco
        cnt = int.from_bytes(buf[cs + 4:cs + 8], "big")
        if cs + 8 + 4 * cnt <= ce:
            offsets = [int.from_bytes(
                buf[cs + 8 + 4 * i:cs + 12 + 4 * i], "big")
                for i in range(cnt)]
    elif co64:
        cs, ce = co64
        cnt = int.from_bytes(buf[cs + 4:cs + 8], "big")
        if cs + 8 + 8 * cnt <= ce:
            offsets = [int.from_bytes(
                buf[cs + 8 + 8 * i:cs + 16 + 8 * i], "big")
                for i in range(cnt)]

    # sample-to-chunk map → per-sample (offset, size)
    samples = []
    stsc = _mp4_find(buf, bs, be, b"stsc")
    if stsc and offsets and sizes:
        xs, xe = stsc
        cnt = int.from_bytes(buf[xs + 4:xs + 8], "big")
        ents = []
        for i in range(cnt):
            base = xs + 8 + 12 * i
            if base + 12 > xe:
                break
            ents.append((
                int.from_bytes(buf[base:base + 4], "big"),
                int.from_bytes(buf[base + 4:base + 8], "big")))
        si = 0
        for ci, chunk_off in enumerate(offsets, start=1):
            spc = 0
            for first_chunk, per in ents:
                if first_chunk <= ci:
                    spc = per
                else:
                    break
            pos = chunk_off
            for _ in range(spc):
                if si >= len(sizes):
                    break
                samples.append((pos, sizes[si]))
                pos += sizes[si]
                si += 1
    return {
        "handler": handler,
        "codec": codec,
        "avcc": avcc,
        "width": width,
        "height": height,
        "n_frames": n_frames,
        "samples": samples,
    }


def decode_mp4_meta(media: DataFrame) -> DataFrame:
    """REAL video-container decode for MP4/ISO-BMFF payloads: brand,
    codec fourcc, dimensions, true frame count and duration from the
    box structure (no ffmpeg). Non-BMFF payloads yield NULLs (kept,
    not dropped). Ref parity note: the reference stores series, not
    media — this is north-star pipeline surface, cited against the
    public ISO/IEC 14496-12 box layout."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                p = bytes(p) if p is not None else b""
                m = _parse_mp4(p)
                if m is None:
                    rows.append((int(mid), len(p)) + (None,) * 6)
                else:
                    rows.append((int(mid), len(p), m["brand"],
                                 m["codec"], m["width"], m["height"],
                                 m["n_frames"], m["duration_s"]))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MP4_META_SCHEMA])

    return media.mapInPandas(run, schema=MP4_META_SCHEMA)


def mp4_frame_offsets(media: DataFrame, every_n: int = 1) -> DataFrame:
    """Strided frame sampling with REAL byte ranges: every
    ``every_n``-th sample's file offset + size from the stsc/stco/
    stsz tables — exactly what a distributed frame-extraction job
    needs to range-read payload bytes without decoding. One row in →
    k rows out via mapInPandas; non-BMFF payloads contribute no rows.
    """

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                m = _parse_mp4(bytes(p) if p is not None else b"")
                if m is None:
                    continue
                for i in range(0, len(m["samples"]), every_n):
                    off, sz = m["samples"][i]
                    rows.append((int(mid), i, off, sz))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MP4_FRAME_SCHEMA])

    return media.mapInPandas(run, schema=MP4_FRAME_SCHEMA)


VIDEO_FRAME_PIXELS_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("frame_idx", T.LongType(), False),
    T.StructField("width", T.LongType(), True),
    T.StructField("height", T.LongType(), True),
    T.StructField("mean_r", T.DoubleType(), True),
    T.StructField("mean_g", T.DoubleType(), True),
    T.StructField("mean_b", T.DoubleType(), True),
])


def decode_video_frames(media: DataFrame,
                        every_n: int = 1,
                        approximate: bool = False) -> DataFrame:
    """REAL video pixel decode — the path that was stubbed until r6.

    MP4/ISO-BMFF payloads with an avc1 track: the track's samples
    (sliced out via the stbl byte ranges) decode IN ORDER as one
    stateful stream through the from-scratch H.264 baseline decoder
    (operators/h264.py — CAVLC, intra prediction, exact integer
    transforms, and since r8 full P-slice inter prediction: MV
    prediction, quarter-pel MC, P_Skip, single-reference DPB), using
    the track's avcC extradata for SPS/PPS; every ``every_n``-th
    decoded frame is emitted. Raw Annex B H.264 payloads decode the
    same way (multi-frame). Emits dims + per-channel means of the
    decoded RGB raster; the in-loop deblocking filter runs when the
    stream signals it (spec 8.7). If the stateful track decode fails
    (a sample outside the supported subset — B slices, CABAC,
    interlace — or corruption), the operator falls back to
    per-sample intra decode so the decodable prefix/subset still
    yields rows and the rest NULL out, letting a pipeline count
    decode coverage. Shape: Arrow-batched row-local mapInPandas —
    embarrassingly parallel, no shuffle."""
    from . import h264 as _h264

    def _rgb_rows(mid, frames, n_expected):
        rows = []
        for i in range(0, n_expected, every_n):
            if frames is not None and i < len(frames):
                w, h, planes = frames[i]
                rgb = _h264._yuv420_to_rgb(*planes)
                means = rgb.reshape(-1, 3).mean(axis=0)
                rows.append((mid, i, w, h,
                             round(float(means[0]), 6),
                             round(float(means[1]), 6),
                             round(float(means[2]), 6)))
            else:
                rows.append((mid, i, None, None, None, None, None))
        return rows

    def _frame_row(mid, idx, data, avcc):
        out = _h264.decode_h264_rgb(data, avcc=avcc,
                                    approximate=approximate)
        if out is None:
            return (mid, idx, None, None, None, None, None)
        w, h, rgb = out
        means = rgb.reshape(-1, 3).mean(axis=0)
        return (mid, idx, w, h,
                round(float(means[0]), 6),
                round(float(means[1]), 6),
                round(float(means[2]), 6))

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                p = bytes(p) if p is not None else b""
                mid = int(mid)
                m = _parse_mp4(p)
                if m is not None:
                    # stateful track decode: samples concatenate to
                    # one length-prefixed stream (P frames reference
                    # the previous decoded picture)
                    track = b"".join(p[off:off + sz]
                                     for off, sz in m["samples"])
                    frames = _h264.decode_h264_frames(
                        track, avcc=m["avcc"],
                        max_frames=len(m["samples"]))
                    if frames is not None:
                        rows.extend(_rgb_rows(mid, frames,
                                              len(m["samples"])))
                    else:
                        for i in range(0, len(m["samples"]),
                                       every_n):
                            off, sz = m["samples"][i]
                            rows.append(_frame_row(
                                mid, i, p[off:off + sz], m["avcc"]))
                elif (p[:4] == b"\x00\x00\x00\x01"
                        or p[:3] == b"\x00\x00\x01"):
                    frames = _h264.decode_h264_frames(p)
                    if frames is not None:
                        rows.extend(_rgb_rows(mid, frames,
                                              len(frames)))
                    else:
                        rows.append((mid, 0, None, None,
                                     None, None, None))
            yield pd.DataFrame(
                rows, columns=[f.name for f in
                               VIDEO_FRAME_PIXELS_SCHEMA])

    return media.mapInPandas(run, schema=VIDEO_FRAME_PIXELS_SCHEMA)


def _b(btype: bytes, body: bytes) -> bytes:
    import struct
    return struct.pack(">I", 8 + len(body)) + btype + body


def _fb(btype: bytes, body: bytes, version: int = 0,
        flags: int = 0) -> bytes:
    return _b(btype, bytes([version]) + flags.to_bytes(3, "big")
              + body)


def build_minimal_mp4(width: int, height: int, sample_sizes: list,
                      timescale: int = 600, delta: int = 60,
                      codec: bytes = b"avc1",
                      samples_per_chunk: int = 2,
                      sample_payloads: list = None,
                      avcc: bytes = None) -> bytes:
    """Spec-correct minimal MP4 muxer for synthetic fixtures: one
    video track, ftyp + moov(mvhd, trak(tkhd, mdia(mdhd, hdlr vide,
    minf(vmhd, dinf, stbl(stsd, stts, stsc, stsz, stco))))) + mdat.
    Sample payloads are zero bytes of the given sizes (or the actual
    ``sample_payloads``, e.g. AVCC-framed H.264 access units),
    chunked ``samples_per_chunk`` at a time with real stco offsets —
    so the parser's offset reconstruction is verifiable
    byte-for-byte. When ``avcc`` is given it is embedded as the
    avcC decoder-configuration box of the sample entry (14496-15),
    making the track REALLY decodable by operators.h264."""
    import struct

    if sample_payloads is not None:
        sample_sizes = [len(p) for p in sample_payloads]
    n = len(sample_sizes)
    dur = n * delta
    ident = (struct.pack(">IIIIIIIII", 0x00010000, 0, 0, 0,
                         0x00010000, 0, 0, 0, 0x40000000))
    mvhd = _fb(b"mvhd", struct.pack(">IIII", 0, 0, timescale, dur)
               + struct.pack(">IHH", 0x00010000, 0x0100, 0)
               + b"\x00" * 8 + ident + b"\x00" * 24
               + struct.pack(">I", 2))
    tkhd = _fb(b"tkhd", struct.pack(">IIIII", 0, 0, 1, 0, dur)
               + b"\x00" * 8 + struct.pack(">HHHH", 0, 0, 0, 0)
               + ident + struct.pack(">II", width << 16, height << 16),
               flags=7)
    mdhd = _fb(b"mdhd", struct.pack(">IIIIHH", 0, 0, timescale, dur,
                                    0x55C4, 0))
    hdlr = _fb(b"hdlr", struct.pack(">I", 0) + b"vide"
               + b"\x00" * 12 + b"synthetic\x00")
    vmhd = _fb(b"vmhd", struct.pack(">HHHH", 0, 0, 0, 0), flags=1)
    dref = _fb(b"dref", struct.pack(">I", 1)
               + _fb(b"url ", b"", flags=1))
    dinf = _b(b"dinf", dref)
    entry = _b(codec, b"\x00" * 6 + struct.pack(">H", 1)
               + struct.pack(">HH", 0, 0) + b"\x00" * 12
               + struct.pack(">HH", width, height)
               + struct.pack(">II", 0x00480000, 0x00480000)
               + struct.pack(">I", 0) + struct.pack(">H", 1)
               + b"\x00" * 32 + struct.pack(">Hh", 24, -1)
               + (_b(b"avcC", avcc) if avcc else b""))
    stsd = _fb(b"stsd", struct.pack(">I", 1) + entry)
    stts = _fb(b"stts", struct.pack(">III", 1, n, delta))
    stsc = _fb(b"stsc", struct.pack(">IIII", 1, 1,
                                    samples_per_chunk, 1))
    stsz = _fb(b"stsz", struct.pack(">II", 0, n)
               + b"".join(struct.pack(">I", s)
                          for s in sample_sizes))
    n_chunks = (n + samples_per_chunk - 1) // samples_per_chunk \
        if n else 0
    # stco needs the absolute mdat data offsets: assemble everything
    # with a placeholder, measure, then fill in
    ftyp = _b(b"ftyp", b"isom" + struct.pack(">I", 0x200)
              + b"isomiso2" + codec + b"mp41")

    def moov_with(chunk_offsets):
        stco = _fb(b"stco", struct.pack(">I", n_chunks)
                   + b"".join(struct.pack(">I", o)
                              for o in chunk_offsets))
        stbl = _b(b"stbl", stsd + stts + stsc + stsz + stco)
        minf = _b(b"minf", vmhd + dinf + stbl)
        mdia = _b(b"mdia", mdhd + hdlr + minf)
        trak = _b(b"trak", tkhd + mdia)
        return _b(b"moov", mvhd + trak)

    moov0 = moov_with([0] * n_chunks)
    data_base = len(ftyp) + len(moov0) + 8  # + mdat header
    offsets, pos = [], data_base
    for ci in range(n_chunks):
        offsets.append(pos)
        for s in sample_sizes[ci * samples_per_chunk:
                              (ci + 1) * samples_per_chunk]:
            pos += s
    mdat = _b(b"mdat", b"".join(sample_payloads)
              if sample_payloads is not None
              else b"\x00" * sum(sample_sizes))
    return ftyp + moov_with(offsets) + mdat


#: r5-era names — the operators stopped being stubs in r6 (real GIF/
#: MP4 frame counts, real H.264 pixels via decode_video_frames, real
#: decode-backed resize in resize_image); aliases kept for callers
frame_sample_stub = frame_sample
resize_stub = resize_meta


# ---------------------------------------------------------------
# Compressed-audio container metadata: FLAC STREAMINFO and MP3
# frame-header walks — pure struct parsing of the published specs
# (the audio analogue of the MP4 box walk; no DSP decode needed
# for duration/rate/channel metadata)
# ---------------------------------------------------------------

AUDIO_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("container", T.StringType(), True),
    T.StructField("channels", T.LongType(), True),
    T.StructField("sample_rate", T.LongType(), True),
    T.StructField("bits", T.LongType(), True),
    T.StructField("n_samples", T.LongType(), True),
    T.StructField("duration_ms", T.LongType(), True),
])


def _parse_flac_streaminfo(p: bytes):
    """FLAC STREAMINFO (format spec: 'fLaC' magic, metadata block
    headers of 1-byte last|type + 24-bit length; block type 0 is the
    34-byte STREAMINFO whose bits 80..143 pack sample-rate(20),
    channels-1(3), bits-1(5), total-samples(36))."""
    if not p.startswith(b"fLaC"):
        return None
    pos = 4
    while pos + 4 <= len(p):
        hdr = p[pos]
        last, btype = hdr >> 7, hdr & 0x7F
        ln = int.from_bytes(p[pos + 1:pos + 4], "big")
        pos += 4
        if btype == 0 and ln >= 34 and pos + 34 <= len(p):
            v = int.from_bytes(p[pos + 10:pos + 18], "big")
            rate = v >> 44
            ch = ((v >> 41) & 0x7) + 1
            bits = ((v >> 36) & 0x1F) + 1
            total = v & ((1 << 36) - 1)
            if rate == 0:
                return None
            return ("flac", ch, rate, bits, total)
        if last:
            break
        pos += ln
    return None


#: MPEG-1 Layer III bitrates (kbps) and sample rates — the spec's
#: header tables (ISO/IEC 11172-3); index 0 (free) and 15 are invalid
_MP3_BITRATES = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
                 192, 224, 256, 320)
_MP3_RATES = (44100, 48000, 32000)


def _parse_mp3(p: bytes):
    """MPEG-1 Layer III frame walk: optional ID3v2 skip (synchsafe
    length), then hop frame to frame via the header's bitrate/
    sample-rate/padding (frame bytes = 144·bitrate/rate + pad);
    1152 samples per frame. Returns after the walk with the exact
    sample count — a constant-size scan per frame, no audio decode.

    Strictness matches the other parsers here: the walk must consume
    the stream to EOF (allowing an optional ID3v1 tag and zero
    padding after the last frame) — a corrupt tail returns None
    rather than silently reporting a truncated sample count."""
    pos = 0
    if p[:3] == b"ID3" and len(p) >= 10:
        size = ((p[6] & 0x7F) << 21) | ((p[7] & 0x7F) << 14) \
            | ((p[8] & 0x7F) << 7) | (p[9] & 0x7F)
        pos = 10 + size
    frames, rate, channels = 0, None, None
    while pos + 4 <= len(p):
        h = p[pos:pos + 4]
        if h[0] != 0xFF or (h[1] & 0xE0) != 0xE0:
            break
        if (h[1] >> 3) & 0x3 != 3 or (h[1] >> 1) & 0x3 != 1:
            return None          # only MPEG-1 Layer III
        bri, sri = h[2] >> 4, (h[2] >> 2) & 0x3
        if bri in (0, 15) or sri == 3:
            return None
        rate = _MP3_RATES[sri]
        channels = 1 if (h[3] >> 6) == 3 else 2
        flen = 144 * _MP3_BITRATES[bri] * 1000 // rate \
            + ((h[2] >> 1) & 1)
        frames += 1
        pos += flen
    if frames == 0:
        return None
    tail = p[pos:]
    if tail[:3] == b"TAG" and len(tail) == 128:
        tail = b""               # ID3v1 trailer
    if tail.strip(b"\x00"):
        return None              # non-frame bytes mid/after stream
    return ("mp3", channels, rate, None, frames * 1152)


def decode_audio_meta(media: DataFrame) -> DataFrame:
    """Format-dispatching audio metadata: RIFF/PCM16 WAV (real
    sample scan), FLAC (STREAMINFO struct), MPEG-1 Layer III
    (frame-header walk) — container, channels, sample rate, bit
    depth (NULL where the format doesn't fix it per stream), exact
    sample count, and duration in ms (exact integer half-up of
    n·1000/rate). Row-local Arrow map; unknown/invalid payloads
    yield NULL columns."""

    def dur_ms(n, rate):
        return (2 * n * 1000 + rate) // (2 * rate)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                p = bytes(p) if p is not None else b""
                out = (None,) * 6
                w = _parse_wav(p)
                if w is not None:
                    ch, rate, bits, n, _dur, _rms = w
                    out = ("wav", ch, rate, bits, n,
                           dur_ms(n, rate))
                else:
                    f = _parse_flac_streaminfo(p)
                    m = _parse_mp3(p) if f is None else None
                    got = f or m
                    if got is not None:
                        cont, ch, rate, bits, n = got
                        out = (cont, ch, rate, bits, n,
                               dur_ms(n, rate))
                rows.append((int(mid),) + out)
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_META_SCHEMA])

    return media.mapInPandas(run, schema=AUDIO_META_SCHEMA)


def build_flac_header(channels: int, rate: int, bits: int,
                      total_samples: int) -> bytes:
    """Spec-correct minimal FLAC fixture: magic + one (last)
    STREAMINFO block. Audio frames are absent — metadata-only, which
    is exactly what decode_audio_meta reads."""
    v = (rate << 44) | ((channels - 1) << 41) | ((bits - 1) << 36) \
        | total_samples
    info = (b"\x00" * 10) + v.to_bytes(8, "big") + b"\x00" * 16
    return b"fLaC" + bytes([0x80]) + len(info).to_bytes(3, "big") \
        + info


def build_mp3(frames: int, bitrate_idx: int = 9,
              rate_idx: int = 0, mono: bool = True,
              id3_pad: int = 0) -> bytes:
    """Spec-correct minimal MPEG-1 Layer III fixture: ``frames``
    zero-payload frames of the given bitrate/rate (+ optional ID3v2
    tag with a synchsafe length)."""
    out = b""
    if id3_pad:
        size = bytes([(id3_pad >> 21) & 0x7F, (id3_pad >> 14) & 0x7F,
                      (id3_pad >> 7) & 0x7F, id3_pad & 0x7F])
        out += b"ID3\x03\x00\x00" + size + b"\x00" * id3_pad
    rate = _MP3_RATES[rate_idx]
    flen = 144 * _MP3_BITRATES[bitrate_idx] * 1000 // rate
    hdr = bytes([0xFF, 0xFB, (bitrate_idx << 4) | (rate_idx << 2),
                 0xC0 if mono else 0x00])
    frame = hdr + b"\x00" * (flen - 4)
    return out + frame * frames


def compact_media_dedup_index(spark, path: str,
                              fs: str = "posix") -> dict:
    """Fold the media index's per-batch deltas (streaming layout of
    :func:`build_media_dedup_index`) into one base partition per
    family — same protocol and crash-safety argument as
    ``dedup.compact_dedup_index`` (distinct fold → publish to a
    negative batch id → remove consumed dirs; probes tolerate the
    duplicate rows a mid-cleanup crash leaves, and the next
    compaction removes them). ``fs`` picks posix-rename vs
    object-store-committer publication per
    :func:`~.dedup.compact_batch_dirs`."""
    from .dedup import compact_batch_dirs

    return compact_batch_dirs(
        spark, path, (("phash_bands", ["band"]), ("audio_fp", [])),
        fs=fs)
