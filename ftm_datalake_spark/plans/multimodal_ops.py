"""Multimodal registry query: the image decode path under REAL driver
verification.

Each documents row synthesizes a deterministic P6 PPM payload *inside
the engine* (header via encode(), constant pixel raster via
unhex(repeat(hex(v)))) — so the mapInPandas decode boundary
(operators/multimodal.image_features) runs on genuine binary images and
its extracted features are checkable by pure SQL arithmetic: the oracle
recomputes dims/bytes/luma directly from doc_id. Luma is compared as
round(×1000) → BIGINT: the decoder's float64 Rec.601 mean is exact to
~1e-10 here (constant-pixel images), far inside the rounding margin, so
the check is robust without comparing raw doubles across a Python/numpy
boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ftm_datalake_spark.operators.multimodal import image_features
from ftm_datalake_spark.plans.registry import register
from ftm_datalake_spark.sources.tables import load_table


def _spread_ids(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Respread doc ids across the session before payload synthesis
    (r15, guide §2.5 input skew — the r14 phash fix applied to the
    whole family): the documents parquet is 1-2 scan partitions at
    bench scale, so without this every mapInPandas synth/decode stage
    — the dominant cost of these queries — inherits 1-2 partitions and
    runs on 1-2 cores. Spreading the 8-byte ids costs one trivial
    shuffle and lets the Python stage use every core; the id hash is
    uniform, so the spread is even at any scale. A scan already wider
    than the session keeps its width: the respread never narrows it."""
    width = max(
        2, spark.sparkContext.defaultParallelism, docs.rdd.getNumPartitions()
    )
    return docs.repartition(width, "doc_id")


def _synth_ppm_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic in-engine P6 payload per documents row (see module
    docstring)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    docs = _spread_ids(spark, docs)
    w = (F.lit(2) + F.col("doc_id") % 3).cast("int")
    h = (F.lit(2) + F.col("doc_id") % 2).cast("int")
    v = (F.col("doc_id") % 256).cast("int")
    header = F.encode(
        F.concat_ws(
            "",
            F.lit("P6\n"),
            w.cast("string"),
            F.lit(" "),
            h.cast("string"),
            F.lit("\n255\n"),
        ),
        "UTF-8",
    )
    raster = F.unhex(
        F.repeat(F.lpad(F.hex(v), 2, "0"), (w * h * F.lit(3)).cast("int"))
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("modality"),
        F.concat(header, raster).alias("content"),
        F.lit(None).cast("map<string,string>").alias("meta"),
    )


@register(
    "multimodal_image_features",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             2 + doc_id % 3 AS w,
             2 + doc_id % 2 AS h,
             CAST(doc_id % 256 AS DOUBLE) AS v
      FROM documents)
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(11 + w * h * 3 AS BIGINT) AS n_bytes,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(ROUND((0.299 * v + 0.587 * v + 0.114 * v) * 1000)
                AS BIGINT) AS luma_x1000,
           'ppm' AS decoder
    FROM d
    ORDER BY media_id
    """,
    tags=("multimodal", "mapInPandas"),
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = image_features(_synth_ppm_media(spark, sf_dir))
    return feats.select(
        "media_id",
        "n_bytes",
        "width",
        "height",
        F.round(F.col("mean_luma") * 1000).cast("long").alias("luma_x1000"),
        "decoder",
    ).orderBy("media_id")


@register(
    "multimodal_resize_roundtrip",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           4 AS width, 4 AS height,
           CAST(ROUND((0.299 * v + 0.587 * v + 0.114 * v) * 1000)
                AS BIGINT) AS luma_x1000,
           'ppm' AS decoder
    FROM (SELECT doc_id, CAST(doc_id % 256 AS DOUBLE) AS v FROM documents)
    ORDER BY media_id
    """,
    tags=("multimodal", "mapInPandas"),
)
def multimodal_resize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive resize end-to-end: synth PPM → resize_nearest to 4×4 →
    re-decode. Constant-pixel images survive resampling with identical
    luma, so dims prove the resample ran and luma proves the payload
    re-encoded losslessly."""
    from ftm_datalake_spark.operators.multimodal import resize_images

    media = _synth_ppm_media(spark, sf_dir)
    resized = resize_images(media, width=4, height=4)
    feats = image_features(resized)
    return feats.select(
        "media_id",
        "width",
        "height",
        F.round(F.col("mean_luma") * 1000).cast("long").alias("luma_x1000"),
        "decoder",
    ).orderBy("media_id")


def _le16(x) -> F.Column:
    h = F.lpad(F.hex(x), 4, "0")
    return F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2))


def _le32(x) -> F.Column:
    h = F.lpad(F.hex(x), 8, "0")
    return F.concat(
        F.substring(h, 7, 2),
        F.substring(h, 5, 2),
        F.substring(h, 3, 2),
        F.substring(h, 1, 2),
    )


@register(
    "multimodal_audio_features",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             4 + doc_id % 4 AS n,
             8000 + (doc_id % 4) * 1000 AS rate,
             CAST(doc_id % 1000 AS DOUBLE) AS v
      FROM documents)
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(rate AS INTEGER) AS sample_rate,
           1 AS n_channels,
           CAST(n AS BIGINT) AS n_samples,
           CAST(ROUND((1000.0 * n / rate) * 1000) AS BIGINT) AS duration_us,
           CAST(ROUND(v * 1000) AS BIGINT) AS rms_x1000
    FROM d
    ORDER BY media_id
    """,
    tags=("multimodal", "mapInPandas"),
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV PCM16 decode under driver verification: each row synthesizes
    a minimal mono RIFF/WAVE payload in-engine (little-endian fields via
    byte-swapped hex, constant int16 samples), so rate/frames/duration
    come back through the real decoder and RMS of |v|-constant samples
    is exactly v (n·v² ≤ 8e6 < 2⁵³: all sums exact, sqrt of a perfect
    square is correctly rounded)."""
    from ftm_datalake_spark.operators.multimodal import audio_features

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    docs = _spread_ids(spark, docs)
    n = (F.lit(4) + F.col("doc_id") % 4).cast("int")
    rate = (F.lit(8000) + (F.col("doc_id") % 4) * 1000).cast("int")
    v = (F.col("doc_id") % 1000).cast("int")
    hex_payload = F.concat(
        F.lit("52494646"),               # "RIFF"
        _le32(F.lit(36) + n * 2),        # riff size
        F.lit("57415645"),               # "WAVE"
        F.lit("666d7420"),               # "fmt "
        _le32(F.lit(16)),                # fmt chunk size
        _le16(F.lit(1)),                 # PCM
        _le16(F.lit(1)),                 # mono
        _le32(rate),
        _le32(rate * 2),                 # byte rate
        _le16(F.lit(2)),                 # block align
        _le16(F.lit(16)),                # bits/sample
        F.lit("64617461"),               # "data"
        _le32(n * 2),                    # data size
        F.repeat(_le16(v), n),           # constant samples
    )
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("audio").alias("modality"),
        F.unhex(hex_payload).alias("content"),
        F.lit(None).cast("map<string,string>").alias("meta"),
    )
    feats = audio_features(media)
    return feats.select(
        "media_id",
        "sample_rate",
        "n_channels",
        "n_samples",
        F.round(F.col("duration_ms") * 1000).cast("long").alias("duration_us"),
        F.round(F.col("rms") * 1000).cast("long").alias("rms_x1000"),
    ).orderBy("media_id")


@register(
    "multimodal_tiff_features",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             3 + doc_id % 5 AS w,
             2 + doc_id % 4 AS h,
             CAST(doc_id % 256 AS DOUBLE) AS v
      FROM documents)
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(8 + w * h + 2 + 9 * 12 + 4 AS BIGINT) AS n_bytes,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(ROUND((0.299 * v + 0.587 * v + 0.114 * v) * 1000)
                AS BIGINT) AS luma_x1000,
           'tiff' AS decoder
    FROM d
    ORDER BY media_id
    """,
    tags=("multimodal", "mapInPandas"),
)
def multimodal_tiff_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline TIFF decode under the driver gate: each row synthesizes a
    little-endian 8-bit grayscale TIFF in-engine — 8-byte header, raw
    single strip of constant pixel v, then a 9-entry IFD with inline
    SHORT/LONG values — and operators/multimodal.decode_tiff must walk
    the IFD and recover dims + pixels. Constant-gray luma is v to within
    ~1e-13 (see multimodal_image_features), far inside the round(x1000)
    margin."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    docs = _spread_ids(spark, docs)
    w = (F.lit(3) + F.col("doc_id") % 5).cast("int")
    h = (F.lit(2) + F.col("doc_id") % 4).cast("int")
    v = (F.col("doc_id") % 256).cast("int")

    def entry_short(tag: int, val) -> F.Column:
        return F.concat(
            _le16(F.lit(tag)), _le16(F.lit(3)), _le32(F.lit(1)),
            _le16(val), _le16(F.lit(0)),
        )

    def entry_long(tag: int, val) -> F.Column:
        return F.concat(
            _le16(F.lit(tag)), _le16(F.lit(4)), _le32(F.lit(1)), _le32(val)
        )

    ifd_off = F.lit(8) + w * h
    hex_payload = F.concat(
        F.lit("49492a00"),                  # "II", 42
        _le32(ifd_off),                     # IFD offset (strip first)
        F.repeat(F.lpad(F.hex(v), 2, "0"), w * h),  # raw gray strip
        _le16(F.lit(9)),                    # entry count
        entry_short(256, w),                # ImageWidth
        entry_short(257, h),                # ImageLength
        entry_short(258, F.lit(8)),         # BitsPerSample
        entry_short(259, F.lit(1)),         # Compression: none
        entry_short(262, F.lit(1)),         # Photometric: BlackIsZero
        entry_long(273, F.lit(8)),          # StripOffsets
        entry_short(277, F.lit(1)),         # SamplesPerPixel
        entry_short(278, h),                # RowsPerStrip
        entry_long(279, w * h),             # StripByteCounts
        _le32(F.lit(0)),                    # next IFD: none
    )
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("modality"),
        F.unhex(hex_payload).alias("content"),
        F.lit(None).cast("map<string,string>").alias("meta"),
    )
    feats = image_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        "width",
        "height",
        F.round(F.col("mean_luma") * 1000).cast("long").alias("luma_x1000"),
        "decoder",
    ).orderBy("media_id")


_PPM16_HEADER_HEX = "P6\n16 16\n255\n".encode().hex()


@register(
    "multimodal_phash_neardup",
    oracle="""
    WITH d AS (
      SELECT doc_id, doc_id % 25 AS fam,
             CAST(doc_id AS VARCHAR) AS mid
      FROM documents)
    SELECT a.mid AS media_a, b.mid AS media_b
    FROM d a JOIN d b ON a.fam = b.fam AND a.mid < b.mid
    ORDER BY media_a, media_b
    """,
    tags=("multimodal", "dedup", "phash"),
    checkpointed=True,
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup under the driver gate. Each doc
    row synthesizes a 16x16 gradient PPM in-engine: the stripe pattern
    ((x*fx + y*fy)*7 mod 200) is fixed by the doc's family (doc_id mod
    25 → 25 distinct orientations), plus a per-doc brightness shift of
    0/8/16 — images in a family are byte-different but perceptually
    identical. pHash moves brightness into the DC coefficient it
    discards, so within-family Hamming ≤ 2 and cross-family ≥ 16
    (measured over the whole grid); at threshold 5 the banded blocking
    join must return exactly the same-family pairs — which is what the
    SQL oracle predicts from doc_id arithmetic alone, without computing
    a single hash."""
    from ftm_datalake_spark.operators.multimodal import (
        phash_features,
        phash_neardup_pairs,
    )

    # r14 (guide §2.5 input skew): the documents parquet is 1-2 scan
    # partitions at bench scale, so the Python decode+hash stage — the
    # dominant cost — ran on 1-2 cores. Spreading the 8-byte doc_ids
    # BEFORE synthesizing content costs a trivial shuffle and lets the
    # mapInPandas stage use the whole session; the pair join downstream
    # no longer re-runs it at all (phash_neardup_pairs materializes the
    # hashes once — see operators/multimodal.py).
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    docs = docs.repartition(
        max(2, spark.sparkContext.defaultParallelism), "doc_id"
    )
    fam = F.col("doc_id") % 25
    b = (F.floor(F.col("doc_id") / 25) % 3) * 8
    fx = F.lit(1) + fam % 5
    fy = F.lit(1) + F.floor(fam / 5)
    raster = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(255)),
            lambda i: F.repeat(
                F.lpad(
                    F.hex(((i % 16) * fx + F.floor(i / 16) * fy) * 7 % 200 + b),
                    2,
                    "0",
                ),
                3,
            ),
        ),
        "",
    )
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("modality"),
        F.unhex(F.concat(F.lit(_PPM16_HEADER_HEX), raster)).alias("content"),
        F.lit(None).cast("map<string,string>").alias("meta"),
    )
    pairs = phash_neardup_pairs(phash_features(media), max_hamming=5)
    return pairs.select("media_a", "media_b").orderBy("media_a", "media_b")


@register(
    "multimodal_resize_bilinear",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             8 + (doc_id % 3) * 4 AS w,
             8 + (doc_id % 2) * 4 AS h,
             CAST(doc_id % 150 AS DOUBLE) AS b
      FROM documents),
    m AS (
      SELECT doc_id, w, h,
             (w - 1) + 1.5 * (h - 1) + b AS vb
      FROM d)
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(w // 2 AS INTEGER) AS out_w,
           CAST(h // 2 AS INTEGER) AS out_h,
           CAST(ROUND((0.299 * vb + 0.587 * vb + 0.114 * vb) * 1000)
                AS BIGINT) AS luma_x1000
    FROM m
    ORDER BY media_id
    """,
    tags=("multimodal", "mapInPandas", "resize"),
)
def multimodal_resize_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear downscale under the driver gate. Each row synthesizes a
    LINEAR-RAMP gray PPM (val = 2x + 3y + b) in-engine; bilinear
    interpolation is exact on a plane, and on the half-pixel-center
    grid a clean 2x downscale never clamps at the edges, so the resized
    mean luma collapses to the closed form evaluated at the grid-center
    means: vb = 2*(w-1)/2 + 3*(h-1)/2 + b. vb*1000 is an exact integer
    (vb ends in .0 or .5), so the round(x1000) compare has ~1e-7
    absolute float headroom on both engines."""
    from ftm_datalake_spark.operators.multimodal import bilinear_resize_features

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    docs = _spread_ids(spark, docs)
    w = (F.lit(8) + (F.col("doc_id") % 3) * 4).cast("int")
    h = (F.lit(8) + (F.col("doc_id") % 2) * 4).cast("int")
    b = (F.col("doc_id") % 150).cast("int")
    header = F.encode(
        F.concat_ws(
            "",
            F.lit("P6\n"),
            w.cast("string"),
            F.lit(" "),
            h.cast("string"),
            F.lit("\n255\n"),
        ),
        "UTF-8",
    )
    raster = F.array_join(
        F.transform(
            F.sequence(F.lit(0), w * h - 1),
            lambda i: F.repeat(
                F.lpad(F.hex((i % w) * 2 + F.floor(i / w) * 3 + b), 2, "0"), 3
            ),
        ),
        "",
    )
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("modality"),
        F.concat(header, F.unhex(raster)).alias("content"),
        F.lit(None).cast("map<string,string>").alias("meta"),
    )
    feats = bilinear_resize_features(media, factor=2)
    return feats.select(
        "media_id",
        "out_w",
        "out_h",
        F.round(F.col("mean_luma") * 1000).cast("long").alias("luma_x1000"),
    ).orderBy("media_id")


@register(
    "multimodal_audio_spectrum",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             64 + (doc_id % 4) * 32 AS n,
             3 + doc_id % 5 AS c,
             500 + doc_id % 500 AS a
      FROM documents)
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           8000 AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(c AS INTEGER) AS dominant_bin,
           CAST(ROUND((CAST(c * 8000 AS DOUBLE) / n) * 1000) AS BIGINT)
             AS dominant_mhz,
           CAST(2 * c - 1 AS BIGINT) AS zero_cross,
           CAST(a * 1000 AS BIGINT) AS rms_x1000
    FROM d
    ORDER BY media_id
    """,
    tags=("multimodal", "mapInPandas", "fft"),
)
def multimodal_audio_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real FFT under driver verification: each row synthesizes a mono
    PCM16 square wave in-engine — c cycles over n samples at amplitude
    a, ``s_i = +a if (i*c mod n)*2 < n else -a`` — and the rFFT in
    operators/multimodal.audio_spectral_features must find the
    fundamental. Closed forms (verified numerically over the whole
    parameter grid): dominant_bin = c with ~3x magnitude margin over
    the strongest harmonic, zero_cross = 2c-1, and RMS = a exactly
    (|s_i| is constant, so the mean of squares is a^2, an exact
    float64). dominant_hz = c*8000/n uses the same two IEEE-754 ops on
    both engines, so round(x1000) matches bit-for-bit."""
    from ftm_datalake_spark.operators.multimodal import audio_spectral_features

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    docs = _spread_ids(spark, docs)
    n = (F.lit(64) + (F.col("doc_id") % 4) * 32).cast("int")
    c = (F.lit(3) + F.col("doc_id") % 5).cast("int")
    a = (F.lit(500) + F.col("doc_id") % 500).cast("int")
    sample = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: _le16(
            F.pmod(
                F.when((i * c % n) * 2 < n, a).otherwise(-a),
                F.lit(65536),
            )
        ),
    )
    hex_payload = F.concat(
        F.lit("52494646"),               # "RIFF"
        _le32(F.lit(36) + n * 2),        # riff size
        F.lit("57415645"),               # "WAVE"
        F.lit("666d7420"),               # "fmt "
        _le32(F.lit(16)),                # fmt chunk size
        _le16(F.lit(1)),                 # PCM
        _le16(F.lit(1)),                 # mono
        _le32(F.lit(8000)),
        _le32(F.lit(16000)),             # byte rate
        _le16(F.lit(2)),                 # block align
        _le16(F.lit(16)),                # bits/sample
        F.lit("64617461"),               # "data"
        _le32(n * 2),                    # data size
        F.array_join(sample, ""),
    )
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("audio").alias("modality"),
        F.unhex(hex_payload).alias("content"),
        F.lit(None).cast("map<string,string>").alias("meta"),
    )
    feats = audio_spectral_features(media)
    return feats.select(
        "media_id",
        "sample_rate",
        "n_samples",
        "dominant_bin",
        F.round(F.col("dominant_hz") * 1000).cast("long").alias("dominant_mhz"),
        "zero_cross",
        F.round(F.col("rms") * 1000).cast("long").alias("rms_x1000"),
    ).orderBy("media_id")


@register(
    "multimodal_audio_decimate",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             64 + (doc_id % 4) * 32 AS n,
             3 + doc_id % 5 AS c,
             500 + doc_id % 500 AS a
      FROM documents)
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           4000 AS sample_rate,
           CAST(n // 2 AS BIGINT) AS n_samples,
           CAST(c AS INTEGER) AS dominant_bin,
           CAST(ROUND((CAST(c * 4000 AS DOUBLE) / (n // 2)) * 1000) AS BIGINT)
             AS dominant_mhz,
           CAST(a * 1000 AS BIGINT) AS rms_x1000
    FROM d
    ORDER BY media_id
    """,
    tags=("multimodal", "mapInPandas", "fft"),
)
def multimodal_audio_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → decimate ×2 → re-encode → decode → FFT, end to end.
    Keeping every 2nd sample of the c-cycle square wave yields EXACTLY
    the c-cycle square wave over n/2 samples (frac(2ic/n) < 1/2 ⇔
    frac(ic/(n/2)) < 1/2), so the closed forms survive decimation:
    dominant bin stays c, RMS stays the amplitude, and the physical
    dominant frequency is invariant — c*4000/(n/2) equals the
    pre-decimation c*8000/n, which the oracle computes with the same
    two IEEE-754 ops."""
    from ftm_datalake_spark.operators.multimodal import (
        audio_spectral_features,
        decimate_audio,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    docs = _spread_ids(spark, docs)
    n = (F.lit(64) + (F.col("doc_id") % 4) * 32).cast("int")
    c = (F.lit(3) + F.col("doc_id") % 5).cast("int")
    a = (F.lit(500) + F.col("doc_id") % 500).cast("int")
    sample = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: _le16(
            F.pmod(
                F.when((i * c % n) * 2 < n, a).otherwise(-a),
                F.lit(65536),
            )
        ),
    )
    hex_payload = F.concat(
        F.lit("52494646"),
        _le32(F.lit(36) + n * 2),
        F.lit("57415645"),
        F.lit("666d7420"),
        _le32(F.lit(16)),
        _le16(F.lit(1)),
        _le16(F.lit(1)),
        _le32(F.lit(8000)),
        _le32(F.lit(16000)),
        _le16(F.lit(2)),
        _le16(F.lit(16)),
        F.lit("64617461"),
        _le32(n * 2),
        F.array_join(sample, ""),
    )
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("audio").alias("modality"),
        F.unhex(hex_payload).alias("content"),
        F.lit(None).cast("map<string,string>").alias("meta"),
    )
    feats = audio_spectral_features(decimate_audio(media, 2))
    return feats.select(
        "media_id",
        "sample_rate",
        "n_samples",
        "dominant_bin",
        F.round(F.col("dominant_hz") * 1000).cast("long").alias("dominant_mhz"),
        F.round(F.col("rms") * 1000).cast("long").alias("rms_x1000"),
    ).orderBy("media_id")


@register(
    "multimodal_bmp_features",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             2 + doc_id % 3 AS w,
             2 + doc_id % 2 AS h,
             CAST(doc_id % 256 AS DOUBLE) AS v
      FROM documents),
    s AS (SELECT *, ((w * 3 + 3) // 4) * 4 AS stride FROM d)
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(54 + stride * h AS BIGINT) AS n_bytes,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(ROUND((0.299 * v + 0.587 * v + 0.114 * v) * 1000)
                AS BIGINT) AS luma_x1000,
           'bmp' AS decoder
    FROM s
    ORDER BY media_id
    """,
    tags=("multimodal", "mapInPandas"),
)
def multimodal_bmp_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24-bit BMP decode under driver verification: in-engine synthesized
    BITMAPINFOHEADER payloads with 4-byte row padding (w ∈ 2..4 hits pad
    widths 2, 3, and 0), constant BGR pixels so the channel flip and
    bottom-up flip are luma-invariant and the oracle stays pure SQL."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    docs = _spread_ids(spark, docs)
    w = (F.lit(2) + F.col("doc_id") % 3).cast("int")
    h = (F.lit(2) + F.col("doc_id") % 2).cast("int")
    v = (F.col("doc_id") % 256).cast("int")
    stride = ((w * 3 + F.lit(3)) / 4).cast("int") * 4
    pad = stride - w * 3
    row_hex = F.concat(
        F.repeat(F.lpad(F.hex(v), 2, "0"), w * 3), F.repeat(F.lit("00"), pad)
    )
    hex_payload = F.concat(
        F.lit("424d"),                   # "BM"
        _le32(F.lit(54) + stride * h),   # file size
        _le32(F.lit(0)),                 # reserved
        _le32(F.lit(54)),                # data offset
        _le32(F.lit(40)),                # BITMAPINFOHEADER size
        _le32(w),
        _le32(h),                        # positive: bottom-up
        _le16(F.lit(1)),                 # planes
        _le16(F.lit(24)),                # bpp
        _le32(F.lit(0)),                 # BI_RGB
        _le32(stride * h),               # image size
        _le32(F.lit(0)), _le32(F.lit(0)),  # resolutions
        _le32(F.lit(0)), _le32(F.lit(0)),  # palette counts
        F.repeat(row_hex, h),
    )
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("modality"),
        F.unhex(hex_payload).alias("content"),
        F.lit(None).cast("map<string,string>").alias("meta"),
    )
    feats = image_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        "width",
        "height",
        F.round(F.col("mean_luma") * 1000).cast("long").alias("luma_x1000"),
        "decoder",
    ).orderBy("media_id")


# --------------------------------------------------------------------------
@register(
    "multimodal_video_frames",
    oracle="""
    WITH d AS (
      SELECT doc_id, 2 + doc_id % 4 AS nf FROM documents
    ),
    f AS (
      SELECT doc_id, nf, s.i AS frame_idx,
             CAST((doc_id * 7 + s.i * 31) % 256 AS DOUBLE) AS v
      FROM d, LATERAL (SELECT i FROM generate_series(0, 7) g(i)) s
      WHERE s.i < nf AND s.i % 2 = 0
    )
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(nf AS INTEGER) AS n_frames,
           CAST(2 AS INTEGER) AS width,
           CAST(2 AS INTEGER) AS height,
           CAST(ROUND((0.299 * v + 0.587 * v + 0.114 * v) * 1000)
                AS BIGINT) AS luma_x1000,
           'ppm-stream' AS decoder
    FROM f
    ORDER BY media_id, frame_idx
    """,
    tags=("multimodal", "mapInPandas", "video"),
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling under REAL driver verification: each documents
    row synthesizes a concatenated-P6 stream (2..5 frames, 2x2 constant
    rasters, per-frame value (doc_id*7 + idx*31) % 256) inside the
    engine; operators/multimodal.video_frame_features walks the stream
    with the frame parser and decodes every 2nd frame. The oracle
    recomputes the sampled frames' dims/luma by pure arithmetic."""
    from ftm_datalake_spark.operators.multimodal import video_frame_features

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    docs = _spread_ids(spark, docs)
    n_frames = (F.lit(2) + F.col("doc_id") % 4).cast("int")

    def frame(idx: F.Column) -> F.Column:
        v = ((F.col("doc_id") * 7 + idx * 31) % 256).cast("int")
        return F.concat(
            F.encode(F.lit("P6\n2 2\n255\n"), "UTF-8"),
            F.unhex(F.repeat(F.lpad(F.hex(v), 2, "0"), 12)),
        )

    payload = F.aggregate(
        F.transform(F.sequence(F.lit(0), n_frames - 1), frame),
        F.lit(b""),
        lambda acc, x: F.concat(acc, x),
    )
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("video").alias("modality"),
        payload.alias("content"),
    )
    feats = video_frame_features(media, every_n=2)
    return feats.select(
        "media_id",
        "frame_idx",
        "n_frames",
        "width",
        "height",
        F.round(F.col("mean_luma") * 1000).cast("long").alias("luma_x1000"),
        "decoder",
    ).orderBy("media_id", "frame_idx")


# --------------------------------------------------------------------------
# Y4M (YUV4MPEG2) frame sampling under REAL driver verification: each
# documents row synthesizes a standard .y4m stream in-engine (C420jpeg,
# 4x2 constant-luma frames, per-frame value (doc_id*11 + idx*17) % 256,
# neutral 0x80 chroma); operators/multimodal.parse_y4m walks the real
# container (stream header tags + FRAME headers + planar payloads) and
# the sampler decodes every 2nd frame's Y' plane. The oracle recomputes
# the sampled frames' luma by pure arithmetic (a constant plane's mean
# is its value — exact in both engines).
@register(
    "multimodal_y4m_frames",
    oracle="""
    WITH d AS (
      SELECT doc_id, 2 + doc_id % 3 AS nf FROM documents
    ),
    f AS (
      SELECT doc_id, nf, s.i AS frame_idx,
             (doc_id * 11 + s.i * 17) % 256 AS v
      FROM d, LATERAL (SELECT i FROM generate_series(0, 7) g(i)) s
      WHERE s.i < nf AND s.i % 2 = 0
    )
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(nf AS INTEGER) AS n_frames,
           CAST(4 AS INTEGER) AS width,
           CAST(2 AS INTEGER) AS height,
           CAST(v * 1000 AS BIGINT) AS luma_x1000,
           'y4m' AS decoder
    FROM f
    ORDER BY media_id, frame_idx
    """,
    tags=("multimodal", "mapInPandas", "video"),
)
def multimodal_y4m_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ftm_datalake_spark.operators.multimodal import video_frame_features

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    docs = _spread_ids(spark, docs)
    n_frames = (F.lit(2) + F.col("doc_id") % 3).cast("int")

    def frame(idx: F.Column) -> F.Column:
        v = ((F.col("doc_id") * 11 + idx * 17) % 256).cast("int")
        return F.concat(
            F.encode(F.lit("FRAME\n"), "UTF-8"),
            # Y plane: 4x2 = 8 bytes of v; chroma: 2x(2x1) = 4 bytes 0x80
            F.unhex(F.repeat(F.lpad(F.hex(v), 2, "0"), 8)),
            F.unhex(F.lit("80808080")),
        )

    payload = F.aggregate(
        F.transform(F.sequence(F.lit(0), n_frames - 1), frame),
        F.encode(F.lit("YUV4MPEG2 W4 H2 F25:1 Ip A1:1 C420jpeg\n"), "UTF-8"),
        lambda acc, x: F.concat(acc, x),
    )
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("video").alias("modality"),
        payload.alias("content"),
    )
    feats = video_frame_features(media, every_n=2)
    return feats.select(
        "media_id",
        "frame_idx",
        "n_frames",
        "width",
        "height",
        F.round(F.col("mean_luma") * 1000).cast("long").alias("luma_x1000"),
        "decoder",
    ).orderBy("media_id", "frame_idx")


# --------------------------------------------------------------------------
# Multimodal dedup composition: REAL decode → content signature →
# duplicate families. Payloads are synthesized with only 16 distinct
# pixel values (doc_id % 16 scaled ×16) so collisions are guaranteed;
# the signature is the decoded mean luma quantized ×1000 — identical
# images (after decode) land in the same family no matter how their
# bytes were produced. The oracle recomputes the signature arithmetic
# from doc_id. At scale this is the 'perceptual-hash groupBy' shape:
# decode in mapInPandas, then ONE shuffle on the fixed-width signature.
@register(
    "multimodal_image_dedup",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CAST((doc_id % 16) * 16 AS DOUBLE) AS v
      FROM documents
    ),
    sig AS (
      SELECT doc_id,
             CAST(ROUND((0.299 * v + 0.587 * v + 0.114 * v) * 1000)
                  AS BIGINT) AS luma_sig
      FROM d
    )
    SELECT luma_sig,
           COUNT(*) AS n_images,
           MIN(CAST(doc_id AS VARCHAR)) AS representative
    FROM sig
    GROUP BY luma_sig
    ORDER BY luma_sig
    """,
    tags=("multimodal", "dedup", "mapInPandas"),
)
def multimodal_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    docs = _spread_ids(spark, docs)
    v = ((F.col("doc_id") % 16) * 16).cast("int")
    header = F.encode(F.lit("P6\n2 2\n255\n"), "UTF-8")
    raster = F.unhex(F.repeat(F.lpad(F.hex(v), 2, "0"), 12))
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("modality"),
        F.concat(header, raster).alias("content"),
        F.lit(None).cast("map<string,string>").alias("meta"),
    )
    feats = image_features(media)
    return (
        feats.select(
            "media_id",
            F.round(F.col("mean_luma") * 1000).cast("long").alias("luma_sig"),
        )
        .groupBy("luma_sig")
        .agg(
            F.count("*").alias("n_images"),
            F.min("media_id").alias("representative"),
        )
        .orderBy("luma_sig")
    )


# --------------------------------------------------------------------------
# Compressed-codec decode paths (PNG inflate+unfilter, JPEG Huffman+IDCT)
# under driver verification. zlib/DCT can't be expressed in SQL
# expressions, so payload synthesis runs in a mapInPandas stage (still
# in-engine, deterministic from doc_id); the oracle recomputes the
# expected features by pure arithmetic. Constant-pixel rasters make PNG
# trivially exact; solid-gray JPEG with an all-ones quant table is
# DC-only and hence lossless through quantization (see
# operators/multimodal.encode_jpeg_gray).
def _synth_png_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ftm_datalake_spark.operators.multimodal import MEDIA_SCHEMA, encode_png

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    docs = _spread_ids(spark, docs)

    def synth(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w = 2 + doc_id % 3
                h = 2 + doc_id % 2
                v = doc_id % 256
                px = np.empty((h, w, 3), np.uint8)
                px[:, :, 0] = v
                px[:, :, 1] = (v * 7) % 256
                px[:, :, 2] = (v * 13) % 256
                rows.append(
                    {
                        "media_id": str(doc_id),
                        "modality": "image",
                        "content": encode_png(px),
                        "meta": None,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return docs.mapInPandas(synth, MEDIA_SCHEMA)


@register(
    "multimodal_png_features",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             2 + doc_id % 3 AS w,
             2 + doc_id % 2 AS h,
             CAST(doc_id % 256 AS DOUBLE) AS v
      FROM documents)
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(ROUND((0.299 * v
                       + 0.587 * (CAST(v * 7 AS BIGINT) % 256)
                       + 0.114 * (CAST(v * 13 AS BIGINT) % 256)) * 1000)
                AS BIGINT) AS luma_x1000,
           'png' AS decoder
    FROM d
    ORDER BY media_id
    """,
    tags=("multimodal", "mapInPandas", "png"),
)
def multimodal_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = image_features(_synth_png_media(spark, sf_dir))
    return feats.select(
        "media_id",
        "width",
        "height",
        F.round(F.col("mean_luma") * 1000).cast("long").alias("luma_x1000"),
        "decoder",
    ).orderBy("media_id")


@register(
    "multimodal_jpeg_features",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             8 * (1 + doc_id % 3) AS w,
             8 * (1 + doc_id % 2) AS h,
             CAST(doc_id % 256 AS DOUBLE) AS v
      FROM documents)
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(ROUND(v * 1000) AS BIGINT) AS luma_x1000,
           'jpeg' AS decoder
    FROM d
    ORDER BY media_id
    """,
    tags=("multimodal", "mapInPandas", "jpeg"),
)
def multimodal_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline JPEG through the full entropy-decode + IDCT path: solid
    gray v at 8x8-multiple dims, all-ones quant → DC-only blocks decode
    back to exactly v, so decoded luma == v and the oracle is pure
    arithmetic."""
    import pandas as pd

    from ftm_datalake_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        encode_jpeg_gray,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    docs = _spread_ids(spark, docs)

    def synth(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w = 8 * (1 + doc_id % 3)
                h = 8 * (1 + doc_id % 2)
                v = doc_id % 256
                px = np.full((h, w), v, np.uint8)
                rows.append(
                    {
                        "media_id": str(doc_id),
                        "modality": "image",
                        "content": encode_jpeg_gray(px),
                        "meta": None,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    media = docs.mapInPandas(synth, MEDIA_SCHEMA)
    feats = image_features(media)
    return feats.select(
        "media_id",
        "width",
        "height",
        F.round(F.col("mean_luma") * 1000).cast("long").alias("luma_x1000"),
        "decoder",
    ).orderBy("media_id")


@register(
    "multimodal_gif_features",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             2 + doc_id % 3 AS w,
             2 + doc_id % 2 AS h,
             CAST(doc_id % 256 AS DOUBLE) AS v
      FROM documents)
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(ROUND((0.299 * v
                       + 0.587 * (CAST(v * 11 AS BIGINT) % 256)
                       + 0.114 * (CAST(v * 17 AS BIGINT) % 256)) * 1000)
                AS BIGINT) AS luma_x1000,
           'gif' AS decoder
    FROM d
    ORDER BY media_id
    """,
    tags=("multimodal", "mapInPandas", "gif"),
)
def multimodal_gif_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF (LZW) decode under driver verification: single-entry palette
    GIFs synthesized in a mapInPandas stage (all pixels index 0, palette
    color derived from doc_id), so decoded dims/luma reduce to pure
    arithmetic."""
    import numpy as np
    import pandas as pd

    from ftm_datalake_spark.operators.multimodal import MEDIA_SCHEMA, encode_gif

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    docs = _spread_ids(spark, docs)

    def synth(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w = 2 + doc_id % 3
                h = 2 + doc_id % 2
                v = doc_id % 256
                palette = np.array([[v, (v * 11) % 256, (v * 17) % 256]], np.uint8)
                idx = np.zeros((h, w), np.uint8)
                rows.append(
                    {
                        "media_id": str(doc_id),
                        "modality": "image",
                        "content": encode_gif(idx, palette),
                        "meta": None,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    feats = image_features(docs.mapInPandas(synth, MEDIA_SCHEMA))
    return feats.select(
        "media_id",
        "width",
        "height",
        F.round(F.col("mean_luma") * 1000).cast("long").alias("luma_x1000"),
        "decoder",
    ).orderBy("media_id")


# --------------------------------------------------------------------------
# Scene-cut detection under REAL driver verification: each documents row
# synthesizes a concatenated-P6 stream (4..7 frames, 2x2 constant
# rasters) whose luma JUMPS by 131 mod 256 at frame `1 + doc_id % 3`;
# operators/multimodal.video_scene_cuts walks the real parser, decodes
# every frame, and flags |Δ luma_x1000| >= 100000. The oracle recomputes
# the decoded lumas and the lag-delta arithmetic directly.
@register(
    "multimodal_video_scenecut",
    oracle="""
    WITH d AS (
      SELECT doc_id, 4 + doc_id % 4 AS nf, 1 + doc_id % 3 AS cut
      FROM documents
    ),
    f AS (
      SELECT doc_id, nf, s.i AS idx,
             CAST((doc_id * 5 + CASE WHEN s.i >= cut THEN 131 ELSE 0 END)
                  % 256 AS DOUBLE) AS v
      FROM d, LATERAL (SELECT i FROM generate_series(0, 7) g(i)) s
      WHERE s.i < nf
    ),
    l AS (
      SELECT doc_id, nf, idx,
             CAST(ROUND((0.299 * v + 0.587 * v + 0.114 * v) * 1000)
                  AS BIGINT) AS lx
      FROM f
    ),
    dd AS (
      SELECT doc_id, nf, idx,
             abs(lx - lag(lx) OVER (PARTITION BY doc_id ORDER BY idx))
               AS delta
      FROM l
    )
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(MAX(nf) AS INTEGER) AS n_frames,
           CAST(COUNT(*) FILTER (delta >= 100000) AS BIGINT) AS n_cuts,
           CAST(MIN(idx) FILTER (delta >= 100000) AS BIGINT)
             AS first_cut_idx
    FROM dd GROUP BY doc_id ORDER BY media_id
    """,
    tags=("multimodal", "mapInPandas", "video"),
)
def multimodal_video_scenecut(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ftm_datalake_spark.operators.multimodal import video_scene_cuts

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    docs = _spread_ids(spark, docs)
    n_frames = (F.lit(4) + F.col("doc_id") % 4).cast("int")
    cut = (F.lit(1) + F.col("doc_id") % 3).cast("int")

    def frame(idx: F.Column) -> F.Column:
        v = (
            (F.col("doc_id") * 5
             + F.when(idx >= cut, 131).otherwise(0)) % 256
        ).cast("int")
        return F.concat(
            F.encode(F.lit("P6\n2 2\n255\n"), "UTF-8"),
            F.unhex(F.repeat(F.lpad(F.hex(v), 2, "0"), 12)),
        )

    payload = F.aggregate(
        F.transform(F.sequence(F.lit(0), n_frames - 1), frame),
        F.lit(b""),
        lambda acc, x: F.concat(acc, x),
    )
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("video").alias("modality"),
        payload.alias("content"),
    )
    return (
        video_scene_cuts(media, threshold_x1000=100_000, every_n=1)
        .orderBy("media_id")
    )


# --------------------------------------------------------------------------
# Voice-activity detection under REAL driver verification: each
# documents row synthesizes a mono PCM16 WAV whose 4-sample blocks
# alternate between amplitude 100 and silence (phase set by doc_id);
# operators/multimodal.audio_activity_segments decodes through the
# real WAV parser to per-sample rows and packs maximal active runs
# with the relational interval-pack idiom (lag + cumulative start
# count + hash agg, all keyed by media_id). The oracle re-derives the
# active blocks arithmetically — with the alternating pattern, active
# blocks never merge, so segments are exactly the active blocks.
@register(
    "multimodal_audio_vad",
    oracle="""
    WITH d AS (
      SELECT doc_id, 12 + (doc_id % 5) * 4 AS n FROM documents
    ),
    blocks AS (
      -- series bound 6 is STRUCTURAL (n = 12 + (doc_id%5)*4 <= 28, so
      -- n//4 - 1 <= 6 by the synthesis formula), not a data-size cap
      SELECT doc_id, g.b
      FROM d, LATERAL (SELECT b FROM generate_series(0, 6) t(b)) g
      WHERE g.b < n // 4 AND (g.b + doc_id) % 2 = 0
    )
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY b)
                AS BIGINT) AS seg_id,
           CAST(b * 4 AS BIGINT) AS start_idx,
           CAST(b * 4 + 3 AS BIGINT) AS end_idx,
           CAST(4 AS BIGINT) AS n_samples
    FROM blocks
    ORDER BY media_id, seg_id
    """,
    tags=("multimodal", "mapInPandas", "audio", "temporal"),
)
def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ftm_datalake_spark.operators.multimodal import (
        audio_activity_segments,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    docs = _spread_ids(spark, docs)
    n = (F.lit(12) + (F.col("doc_id") % 5) * 4).cast("int")

    def amp(i: F.Column) -> F.Column:
        blk = F.floor(i / 4)
        return F.when((blk + F.col("doc_id")) % 2 == 0, 100).otherwise(0)

    data_hex = F.aggregate(
        F.transform(F.sequence(F.lit(0), n - 1), lambda i: _le16(amp(i))),
        F.lit(""),
        lambda acc, x: F.concat(acc, x),
    )
    hex_payload = F.concat(
        F.lit("52494646"),
        _le32(F.lit(36) + n * 2),
        F.lit("57415645"),
        F.lit("666d7420"),
        _le32(F.lit(16)),
        _le16(F.lit(1)),
        _le16(F.lit(1)),
        _le32(F.lit(8000)),
        _le32(F.lit(16000)),
        _le16(F.lit(2)),
        _le16(F.lit(16)),
        F.lit("64617461"),
        _le32(n * 2),
        data_hex,
    )
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("audio").alias("modality"),
        F.unhex(hex_payload).alias("content"),
    )
    return (
        audio_activity_segments(media, threshold=50)
        .orderBy("media_id", "seg_id")
    )
