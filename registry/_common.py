"""Helpers shared by more than one entry family: the engine
fixture and select wrappers, the oracle's events-points prefixes
and bucket formula, time constants, and the media/video row
builders."""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from siridb_server_spark import SiriEngine
from siridb_server_spark.functions.stable import SCALED_TERM_SQL
from siridb_server_spark.localdf import arrow_df
from siridb_server_spark.operators import h264 as H264
from siridb_server_spark.operators import multimodal as MM
from siridb_server_spark.operators import text as TX
from siridb_server_spark.sources.testdata import (
    events_points, EVENTS_PTS_INT_SQL, EVENTS_PTS_SQL, load)


def _media_df(spark, rows):
    """Fixture media frame through the Arrow path (localdf.arrow_df):
    the classic list-path frame re-entered a Python pickle worker on
    every scan (~0.4 s/scan on this platform) — for a constant 8-row
    fixture that overhead dwarfed the decode being measured."""
    from siridb_server_spark.operators.multimodal import MEDIA_SCHEMA
    return arrow_df(spark, rows, MEDIA_SCHEMA)


H = 3_600_000_000_000  # 1h in nanoseconds (engine precision = ns)
D6 = 86_400_000_000_000  # 1d in ns
BETWEEN_A = 1_704_844_800_000_000_000  # 2024-01-10T00:00:00Z in ns
BETWEEN_B = 1_705_708_800_000_000_000  # 2024-01-20T00:00:00Z in ns


def _eng(spark: SparkSession, sf_dir: str, as_int: bool = False) -> SiriEngine:
    return SiriEngine.from_points(
        spark, events_points(spark, sf_dir, as_int), precision="ns")


def _pv(df: DataFrame, col: str, nd: int | None = None) -> DataFrame:
    c = F.col(col)
    if nd is not None:
        # + 0.0 normalizes IEEE -0.0 to +0.0 so the value hash is
        # stable across engines (Spark BigDecimal HALF_UP vs DuckDB
        # round disagree on the sign of a zero result)
        c = F.round(c, nd) + F.lit(0.0)
    return df.select("series", "ts", c.alias("val"))


def _sel(q: str, col: str = "val_dbl", nd: int | None = None,
         as_int: bool = False):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _pv(_eng(spark, sf_dir, as_int).select_df(q), col, nd)
    return run


def _bucket_sql(agg: str, g: int, nd: int | None = None,
                int_pts: bool = False) -> str:
    val = f"round({agg}, {nd}) + 0.0" if nd is not None else agg
    pre = EVENTS_PTS_INT_SQL if int_pts else EVENTS_PTS_SQL
    return (
        f"{pre} SELECT series, ((ts + {g - 1}) // {g}) * {g} AS ts, "
        f"{val} AS val FROM pts GROUP BY 1, 2"
    )


@lru_cache(maxsize=1)
def _h264_pframes_rows():
    """Memoized P-frame fixture (driver-side H.264 encode is the
    expensive part; caching it makes the bench measure the DECODE
    operator, and every call is deterministic anyway)."""
    import numpy as np
    base = np.zeros((32, 32, 3), dtype=np.uint8)
    yy, xx = np.mgrid[0:32, 0:32]
    for c in range(3):
        base[:, :, c] = ((xx * (3 + c) + yy * (5 - c)) % 256)
    frames = [np.roll(base, (2 * i, 3 * i), axis=(0, 1))
              for i in range(3)]
    stream, _recons = H264.encode_h264_sequence(
        frames, qp=24, disable_deblock_idc=0)
    avcc = H264.build_avcc(stream)
    samples = [len(nal).to_bytes(4, "big") + nal
               for nal in H264.split_annexb(stream)
               if H264._nal_header(nal)
               and H264._nal_header(nal)[1] in (1, 5)]
    mp4 = MM.build_minimal_mp4(32, 32, [],
                               sample_payloads=samples,
                               avcc=avcc)
    return [(1, "video", mp4, "video/mp4"),
            (2, "video", stream, "video/h264")]


@lru_cache(maxsize=1)
def _video_match_rows():
    """Memoized video-dedup fixture (three deterministic H.264
    encodes — see _h264_pframes_rows for why this caches)."""
    import numpy as np

    def frames_of(n, shift0=0):
        yy, xx = np.mgrid[0:48, 0:64]
        r2 = ((yy - 24.0) ** 2 / 576 + (xx - 32.0) ** 2 / 1024)
        tex = ((xx // 8 + yy // 8) % 2) * 60
        base = np.stack(
            [np.clip(195 - 160 * r2, 0, 255),
             np.clip(60 + 120 * np.exp(-r2 * 2) + tex, 0, 255),
             np.clip(40 + 150 * r2 + tex, 0, 255)],
            -1).astype(np.uint8)
        return [np.roll(base, (3 * (i + shift0),
                               5 * (i + shift0)), (0, 1))
                for i in range(n)]

    kinds = ("p16", "p16x8", "p8x16", "p8x8", "i16")
    rng = np.random.default_rng(1)
    rows = []
    for mid, fr in ((1, frames_of(6)), (2, frames_of(4, 2)),
                    (3, [rng.integers(0, 256, (48, 64, 3))
                         .astype(np.uint8) for _ in range(4)])):
        stream, _ = H264.encode_h264_sequence(
            fr, qp=14, disable_deblock_idc=0, p_kinds=kinds)
        rows.append((mid, "video", stream, "video/h264"))
    rows.append((4, "video", b"junk", "application/x-junk"))
    return rows


# document-frequency cutoff for the exact-Jaccard entries: the
# production guard against quadratic hot-posting-list blowup
# (dedup._cap_posting_lists), mirrored verbatim in the oracles'
# _JP CTE. 100k never binds at the correctness/bench scales
# (max token df at sf0.1 is ~4k), so values are exact — but the
# bounded path IS the path being checked.
MAX_DF = 100_000


def _prop(name: str, df_count: DataFrame) -> DataFrame:
    return df_count.agg(
        F.lit(name).alias("prop"),
        F.count(F.lit(1)).cast("long").alias("n"))


def _query_vec(spark, sf_dir):
    row = load(spark, sf_dir, "embeddings") \
        .where(F.col("vec_id") == 0).select("embedding").first()
    return list(row["embedding"])


def _phash_fixture(spark):
    """Four images + junk: a smooth radial-gradient PNG, the
    SAME pixels as raw P6 PPM (format-independent hash), a
    brightness-shifted copy (near-dup), an unrelated noise image
    (far), and an undecodable payload (NULLs)."""
    import numpy as np
    yy, xx = np.mgrid[0:40, 0:50]
    r2 = ((yy - 20.0) ** 2 / 400 + (xx - 25.0) ** 2 / 625)
    img = np.stack([np.clip(255 - 180 * r2, 0, 255),
                    np.clip(90 + 120 * np.exp(-r2 * 2), 0, 255),
                    np.clip(40 + 150 * r2, 0, 255)],
                   -1).astype(np.uint8)
    bright = np.clip(img.astype(int) + 12, 0,
                     255).astype(np.uint8)
    rng = np.random.default_rng(9)
    other = rng.integers(0, 256, img.shape).astype(np.uint8)
    ppm = b"P6\n50 40\n255\n" + img.tobytes()
    rows = [(1, "image", MM.encode_png(img), "image/png"),
            (2, "image", ppm, "image/x-portable-pixmap"),
            (3, "image", MM.encode_png(bright), "image/png"),
            (4, "image", MM.encode_png(other), "image/png"),
            (5, "image", b"junk", "application/x-junk")]
    return _media_df(spark, rows)


def _audio_fixture(spark):
    """Three PCM16 WAVs: a six-tone melody, the SAME melody
    delayed by 4096 samples with mild noise (a re-encoded
    excerpt, the containment case), and unrelated noise — plus
    junk (no landmarks)."""
    import struct

    import numpy as np

    def wav_of(sig16, rate=8000):
        data = sig16.astype("<i2").tobytes()
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2,
                          2, 16)
        body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)
        return (b"RIFF" + struct.pack("<I", 4 + len(body))
                + b"WAVE" + body)

    rng = np.random.default_rng(5)
    t = np.arange(16384) / 8000.0
    sig = np.concatenate(
        [np.sin(2 * np.pi * f * t[:2730]) * 9000
         for f in (440, 660, 550, 880, 495, 770)])[:16384]
    delayed = np.concatenate([np.zeros(4096), sig])[:20480]
    delayed = delayed + rng.normal(0, 50, len(delayed))
    rows = [(1, "audio", wav_of(sig), "audio/wav"),
            (2, "audio",
             wav_of(np.clip(delayed, -32768, 32767)),
             "audio/wav"),
            (3, "audio",
             wav_of(rng.normal(0, 8000, 16384)
                    .clip(-32768, 32767)), "audio/wav"),
            (4, "audio", b"junk", "application/x-junk")]
    return _media_df(spark, rows)


# oracle prefixes: the events points as a ``pts`` CTE
# (float values / int-typed values)
P = EVENTS_PTS_SQL
PI = EVENTS_PTS_INT_SQL


def _QTERM(x: str) -> str:
    # one micro-unit quantized term, the mirror of
    # stable.py::scaled_term at scale 6. CONTRACT (see
    # ARCHITECTURE.md "Hashed oracle contract policy"): the
    # expression x must be built ONLY from correctly-rounded
    # IEEE ops (+, -, ×, /, sqrt, floor, least/greatest) over
    # exact integer-derived values — then both engines compute a
    # bit-identical double and the quantization can never
    # diverge. ln/exp/pow are forbidden here; their scores are
    # pytest-verified instead (tests/test_contract_policy.py
    # enforces this).
    return SCALED_TERM_SQL.format(x=x, s=10 ** 6)


def _QTERM2(x: str) -> str:
    # cents (scale 2) — for money-like columns with 2 decimals
    return SCALED_TERM_SQL.format(x=x, s=10 ** 2)


# bloom membership: build (md5 7-hex slices mod 2^16, distinct
# bits) AND probe (semi-join + hits==4) replayed end to end —
# the FP count is a deterministic VALUE, not a tolerance
_bloom_pos = ("unnest(["
              "('0x' || substr(md5(w), 1, 7))::BIGINT % 65536,"
              "('0x' || substr(md5(w), 8, 7))::BIGINT % 65536,"
              "('0x' || substr(md5(w), 15, 7))::BIGINT % 65536,"
              "('0x' || substr(md5(w), 22, 7))::BIGINT % 65536"
              "]) AS bit")

# dwf applies the same max_df=100000 posting-list cutoff as the
# Spark entries (dedup._cap_posting_lists): sizes and the
# inverted-index join both read the CAPPED postings, so the SQL
# stays the exact mirror even at a scale where the cutoff binds
_JP = (
    "WITH dw AS (SELECT DISTINCT doc_id,"
    " unnest(string_split(lower(trim(text)), ' ')) AS w"
    " FROM documents WHERE doc_id < 300),"
    " dwf AS (SELECT * FROM dw WHERE w <> ''"
    " AND w IN (SELECT w FROM dw WHERE w <> ''"
    " GROUP BY 1 HAVING count(*) <= 100000)),"
    " sz AS (SELECT doc_id, count(*) AS n FROM dwf GROUP BY 1),"
    " i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,"
    " count(*) AS i FROM dwf a JOIN dwf b ON a.w = b.w"
    " AND a.doc_id < b.doc_id GROUP BY 1, 2)"
    " SELECT id_a, id_b,"
    " round(i * 1.0 / (sa.n + sb.n - i), 6) + 0.0 AS jaccard"
    " FROM i JOIN sz sa ON id_a = sa.doc_id"
    " JOIN sz sb ON id_b = sb.doc_id"
    " WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.8"
)


def _hits(markers):
    return " + ".join(
        "CASE WHEN ' ' || lower(text) || ' ' LIKE '% " + m
        + " %' THEN 1 ELSE 0 END" for m in markers)


# fixed-weight logistic quality scorer: the hashed contract is
# the quantized LOGIT (z_micro — its lineage is only
# correctly-rounded IEEE ops, bit-identical across engines) and
# keep = z_micro >= 0; the transcendental sigmoid score is
# pytest-verified, never hashed. The z op order replays
# operators/text.py::quality_score_linear verbatim
_QSZ = ("-1.0 + 8.0 * (CASE WHEN n_tokens = 0 THEN NULL"
        " ELSE CAST(n_stop AS DOUBLE) / n_tokens END)"
        " + (-6.0) * (CASE WHEN n_chars = 0 THEN NULL"
        " ELSE CAST(n_punct AS DOUBLE) / n_chars END)"
        " + 1.5 * least(CAST(n_tokens AS DOUBLE), 400.0)"
        " / 400.0")
marks = TX.LANG_MARKERS

_lid = (
    "WITH s AS (SELECT doc_id,"
    + ", ".join(f"({_hits(ms)}) AS s_{lang}"
                for lang, ms in marks.items())
    + " FROM documents) SELECT doc_id,"
    " CASE"
    " WHEN s_fr > s_de AND s_fr > s_es AND s_fr > s_en"
    " THEN 'fr'"
    " WHEN s_de > s_es AND s_de > s_en THEN 'de'"
    " WHEN s_es > s_en THEN 'es'"
    " WHEN s_en > 0 THEN 'en'"
    " ELSE 'und' END AS pred_lang FROM s"
)

# Naive Bayes: the model is the (label, term, cnt) table over the
# proven whitespace tokenizer; the confusion matrix replays the
# ENTIRE quantized-log path in integer SQL — fixlog2(x) =
# (len(bin(x))−1)·2^16 + (x·2^16 // 2^(len(bin(x))−1)) − 2^16,
# spelled with << and // (Spark reads the same mantissa off the
# binary string; both are exact int64, no libm anywhere)
_nb_toks = (
    "SELECT doc_id, lang, unnest(list_filter("
    "string_split_regex(trim(lower(text)), '\\s+'),"
    " x -> x <> '')) AS term FROM documents"
    " WHERE length(trim(text)) > 0")

_nb_counts = (
    "SELECT lang AS label, term, count(*) AS cnt FROM ("
    + _nb_toks + ") GROUP BY 1, 2")

_fix = ("((length(bin({x})) - 1) * 65536"
        " + ({x} * 65536) // (1::BIGINT << (length(bin({x})) - 1))"
        " - 65536)")

_TEXT_NB_CONFUSION_SQL = (
    "WITH toks AS (" + _nb_toks + "),"
    " c AS (" + _nb_counts + "),"
    " lt AS (SELECT label, sum(cnt) AS n_tokens FROM c"
    " GROUP BY 1),"
    " ld AS (SELECT lang AS label, count(*) AS n_docs"
    " FROM documents WHERE length(trim(text)) > 0 GROUP BY 1),"
    " v AS (SELECT count(DISTINCT term) AS vocab FROM c),"
    # zero-token docs (char-gram path: text shorter than n)
    # score the prior alone via a synthetic tf=0 row — mirror
    # of classify._doc_label_scores' tokenless union
    " tf0 AS (SELECT doc_id, term, count(*) AS tf FROM toks"
    " GROUP BY 1, 2),"
    " dd AS (SELECT doc_id FROM documents"
    " WHERE length(trim(text)) > 0),"
    " tf AS (SELECT doc_id, term, tf FROM tf0 UNION ALL"
    " SELECT d.doc_id, CAST(NULL AS VARCHAR) AS term,"
    " CAST(0 AS BIGINT) AS tf FROM dd d"
    " WHERE NOT EXISTS (SELECT 1 FROM tf0"
    " WHERE tf0.doc_id = d.doc_id)),"
    " j AS (SELECT t.doc_id, l.label, t.tf,"
    " CAST(coalesce(c.cnt, 0) + 1 AS BIGINT) AS num,"
    " CAST(l.n_tokens + v.vocab AS BIGINT) AS den,"
    " CAST(ld.n_docs AS BIGINT) AS nd"
    " FROM tf t CROSS JOIN lt l JOIN ld USING (label)"
    " CROSS JOIN v"
    " LEFT JOIN c ON c.label = l.label AND c.term = t.term),"
    " sc AS (SELECT doc_id, label,"
    " sum(tf * (" + _fix.format(x="num") + " - "
    + _fix.format(x="den") + ")) + min("
    + _fix.format(x="nd") + ") AS iscore"
    " FROM j GROUP BY 1, 2),"
    " pred AS (SELECT doc_id, label AS pred FROM ("
    " SELECT doc_id, label, row_number() OVER ("
    " PARTITION BY doc_id ORDER BY iscore DESC, label) AS rn"
    " FROM sc) WHERE rn = 1)"
    " SELECT d.lang AS label, p.pred,"
    " CAST(count(*) AS BIGINT) AS n"
    " FROM documents d JOIN pred p USING (doc_id)"
    " GROUP BY 1, 2")

# char-3-gram language gate — THE default: the SAME CTE chain
# with the token stream swapped for overlapping character
# trigrams of lower(trim(text)) (short tail grams dropped by
# the length filter — the exact _tokens(features="chars")
# definition)
_nb_toks3 = (
    "SELECT doc_id, lang, unnest(list_filter(list_transform("
    "range(1, greatest(length(trim(lower(text))), 1) + 1),"
    " p -> substr(trim(lower(text)), CAST(p AS INT), 3)),"
    " g -> length(g) = 3)) AS term FROM documents"
    " WHERE length(trim(text)) > 0")

# Gopher-style keep/drop: same feature math as text_quality
_TEXT_QUALITY_GATE_SQL = (
    "WITH f AS (SELECT doc_id,"
    " CASE WHEN length(trim(text)) = 0 THEN 0 ELSE"
    " len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,"
    " round(length(text) * 1.0 /"
    " len(string_split_regex(trim(text), '\\s+')), 6) + 0.0"
    " AS avg_tok,"
    " round(len(regexp_extract_all(text, '[^\\w\\s]')) * 1.0"
    " / length(text), 6) + 0.0 AS punct,"
    " round(len(regexp_extract_all(text, '[0-9]')) * 1.0"
    " / length(text), 6) + 0.0 AS digit FROM documents)"
    " SELECT doc_id, n_tokens, coalesce("
    " n_tokens BETWEEN 10 AND 1000"
    " AND avg_tok BETWEEN 2.0 AND 12.0"
    " AND punct <= 0.2 AND digit <= 0.2, FALSE) AS keep FROM f"
)
