"""Multimodal asset pipeline over binary payload columns.

Data model: one row per asset —
  (asset_id, modality, mime, payload BINARY, meta STRUCT<...>)
The synthetic corpus derives assets from `documents` (payload = UTF-8
bytes of the text; deterministic fake modality/metadata from doc_id), so
every byte-level operator is oracle-checkable in DuckDB against the same
text.  On a real corpus the payload column comes straight from
`spark.read.format("binaryFile")` or parquet with BINARY columns — the
operators below don't care where the bytes came from.

Scale notes:
- Payloads stay executor-side end to end; nothing ever collects.  A 100 TB
  image corpus is just more partitions — frame sampling and feature
  extraction are embarrassingly parallel per row.
- Frame sampling is pure JVM expression (sequence → transform →
  substring on BINARY → posexplode): no Python in the hot path, and
  column pruning drops `payload` right after the frames are cut.
- Feature extraction crosses to Python once, Arrow-batched (mapInPandas),
  does whole-batch numpy work, and returns fixed-width vectors.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dffoo_data_pipeline_spark.sources.readers import load_table

QUERIES: dict = {}
ORACLES: dict = {}

FRAME_BYTES = 64  # synthetic "frame" size for the sampling operator

_MODALITIES = ("image", "audio", "video")
_MIMES = ("image/png", "audio/wav", "video/mp4")


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def documents_as_assets(df: DataFrame) -> DataFrame:
    """`documents` → multimodal asset table.

    payload = UTF-8 bytes of text (the opaque blob); modality/mime cycle
    deterministically on doc_id; metadata is a typed struct (what EXIF /
    codec headers would give): fake width/height for images, sample_rate /
    n_samples for audio, fps/n_frames for video.
    """
    m = F.pmod("doc_id", F.lit(3)).cast("int")
    payload = F.encode("text", "UTF-8")
    n_bytes = F.length(payload)
    return df.select(
        F.col("doc_id").alias("asset_id"),
        F.element_at(F.array(*[F.lit(x) for x in _MODALITIES]), m + 1).alias(
            "modality"
        ),
        F.element_at(F.array(*[F.lit(x) for x in _MIMES]), m + 1).alias("mime"),
        payload.alias("payload"),
        F.struct(
            n_bytes.alias("n_bytes"),
            (F.pmod("doc_id", F.lit(512)) + 16).cast("int").alias("width"),
            (F.pmod("doc_id", F.lit(256)) + 16).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            F.ceil(n_bytes / FRAME_BYTES).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def frame_sample(df: DataFrame, every_k: int = 4, frame_bytes: int = FRAME_BYTES) -> DataFrame:
    """Sample every k-th fixed-size frame from each payload.

    JVM-only: sequence(0, n-1, k) → substring(payload, i*fb+1, fb) →
    posexplode.  The video-decode analog (keyframe extraction) would swap
    the substring for a codec call; the partitioning/explosion shape is
    identical.
    """
    n_frames = F.ceil(F.length("payload") / frame_bytes).cast("int")
    # empty payload → sequence(0, -1, k) throws at runtime; yield no frames
    idxs = F.when(
        n_frames > 0, F.sequence(F.lit(0), n_frames - 1, F.lit(every_k))
    ).otherwise(F.array().cast("array<int>"))
    frames = F.transform(
        idxs, lambda i: F.col("payload").substr(i * frame_bytes + 1, F.lit(frame_bytes))
    )
    return (
        df.withColumn("frame", F.explode(frames))
        .select(
            "asset_id",
            F.md5("frame").alias("frame_md5"),
            F.length("frame").alias("frame_len"),
        )
    )


# ---------------------------------------------------------------------------
# Codec boundary: real decode STUBBED (no image/audio libs in container);
# deterministic fake decode keeps every downstream shape real.
# ---------------------------------------------------------------------------


def decode_image(payload: bytes, mime: str) -> np.ndarray:
    """Real image decode — STUB.

    Requires an image codec (Pillow/libvips) not present in this
    container.  The Spark-side contract is: bytes in → HxWx3 uint8 out;
    `fake_decode` below honors that contract deterministically and is what
    the pipeline wires in for tests.
    """
    raise NotImplementedError(
        "image codec not available in this environment; "
        "use fake_decode (deterministic stand-in) or install a codec"
    )


def fake_decode(payload: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic stand-in decoder: tile the payload bytes into an
    (height, width) uint8 'pixel' grid.  Same signature/shape contract as
    decode_image so swapping in a real codec changes no Spark code."""
    buf = np.frombuffer(payload, dtype=np.uint8)
    if len(buf) == 0:
        # np.tile of an empty array stays empty regardless of reps — an
        # empty payload decodes to an all-zero frame, not a task crash
        buf = np.zeros(1, dtype=np.uint8)
    need = width * height
    reps = -(-need // len(buf))
    return np.tile(buf, reps)[:need].reshape(height, width)


def byte_histogram_features(df: DataFrame, bins: int = 16) -> DataFrame:
    """Per-asset feature vector: normalized byte histogram + moment stats.

    The feature-extraction slot of the pipeline (mean-pool of pixels /
    mel-spectrogram summary would plug in here).  mapInPandas: one Python
    crossing, whole-batch numpy, fixed-width output schema.
    """
    schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("features", T.ArrayType(T.DoubleType())),
            T.StructField("byte_mean", T.DoubleType()),
            T.StructField("byte_std", T.DoubleType()),
        ]
    )
    width = 256 // bins

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pb in batches:
            if len(pb) == 0:
                continue
            feats, means, stds = [], [], []
            for payload in pb["payload"]:
                # NULL payload == empty payload here: zero-vector
                # features, not a frombuffer crash (r11 hostile sweep)
                b = np.frombuffer(
                    payload if payload is not None else b"", dtype=np.uint8
                ).astype(np.int64)
                h = np.bincount(b // width, minlength=bins)[:bins]
                feats.append((h / max(len(b), 1)).astype(np.float64))
                # moments-exact mean/std (Σb, Σb² are exact int64): the
                # same fixed IEEE op sequence as byte_histogram_rows'
                # consumers, stable across numpy versions — np.std's
                # pairwise summation is not
                n = max(len(b), 1)
                s, s2 = int(b.sum()), int((b * b).sum())
                means.append(s / n)
                stds.append(float(np.sqrt(s2 / n - (s / n) ** 2)))
            yield pd.DataFrame(
                {
                    "asset_id": pb["asset_id"],
                    "features": feats,
                    "byte_mean": means,
                    "byte_std": stds,
                }
            )

    from dffoo_data_pipeline_spark.sources.readers import ensure_min_partitions

    return ensure_min_partitions(df.select("asset_id", "payload"), "asset_id").mapInPandas(
        gen, schema
    )


# ---------------------------------------------------------------------------
# Driver-contract queries
# ---------------------------------------------------------------------------


@_register(
    "multimodal_byte_stats",
    f"""
    SELECT doc_id AS asset_id,
           ['image','audio','video'][(doc_id % 3) + 1] AS modality,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS payload_md5,
           CAST(CEIL(octet_length(encode(text)) * 1.0 / {FRAME_BYTES}) AS INT)
             AS n_frames
    FROM documents
    """,
)
def multimodal_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata + content hash per binary asset — all JVM expressions
    over the BINARY column (md5/length work on bytes directly)."""
    a = documents_as_assets(load_table(spark, sf_dir, "documents"))
    return a.select(
        "asset_id",
        "modality",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
        F.col("meta.n_frames").alias("n_frames"),
    )


@_register(
    "multimodal_frame_sample",
    f"""
    WITH assets AS (
        SELECT doc_id AS asset_id, text, octet_length(encode(text)) AS n
        FROM documents
    )
    SELECT asset_id,
           md5(substring(text, i * {FRAME_BYTES} + 1, {FRAME_BYTES})) AS frame_md5,
           octet_length(encode(substring(text, i * {FRAME_BYTES} + 1, {FRAME_BYTES})))
             AS frame_len
    FROM assets,
         unnest(range(0, CAST(CEIL(n * 1.0 / {FRAME_BYTES}) AS BIGINT), 4)) AS t(i)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-4th-frame sampling over binary payloads (keyframe-extraction
    plumbing).  Oracle equivalence holds because the corpus is ASCII —
    byte slicing == character slicing — which tests/test_multimodal.py
    asserts as a precondition."""
    a = documents_as_assets(load_table(spark, sf_dir, "documents"))
    return frame_sample(a, every_k=4)


def audio_rms_windows(df: DataFrame, window_samples: int = 256) -> DataFrame:
    """Windowed RMS energy over fake-PCM payloads (bytes as centered uint8
    samples) — the mel-spectrogram-summary slot for audio assets; same
    mapInPandas batch shape a real DSP kernel would use."""
    schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("window_no", T.IntegerType()),
            T.StructField("rms", T.DoubleType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pb in batches:
            if len(pb) == 0:
                continue
            ids, wins, rmss = [], [], []
            for aid, payload in zip(pb["asset_id"], pb["payload"]):
                x = np.frombuffer(payload, dtype=np.uint8).astype(np.float64) - 128.0
                n_win = len(x) // window_samples
                for w in range(n_win):
                    seg = x[w * window_samples : (w + 1) * window_samples]
                    ids.append(aid)
                    wins.append(w)
                    rmss.append(float(np.sqrt(np.mean(seg * seg))))
            yield pd.DataFrame({"asset_id": ids, "window_no": wins, "rms": rmss})

    from dffoo_data_pipeline_spark.sources.readers import ensure_min_partitions

    return ensure_min_partitions(df.select("asset_id", "payload"), "asset_id").mapInPandas(
        gen, schema
    )


@_register(
    "multimodal_image_pixel_stats",
    # Oracle-exact float math: pixels are uint8 integers, so Σx and Σx²
    # are exact integers in double (≤3.6e7 / ≤9.3e9, far under 2^53) and
    # both engines evaluate the same IEEE op sequence s2/n − (s1/n)² →
    # bit-identical doubles.  The SQL reproduces fake_decode's
    # tile-and-truncate in closed form: the n=w·h grid is ⌊n/len⌋ full
    # repeats of the payload plus its first n%len bytes, so each moment
    # is full·Σ + prefix(rem) — no 143k-element unnest per image needed.
    """
    WITH img AS (
        SELECT doc_id AS asset_id,
               hex(encode(text)) AS hx,
               octet_length(encode(text)) AS len,
               doc_id % 512 + 16 AS w,
               doc_id % 256 + 16 AS h
        FROM documents WHERE doc_id % 3 = 0
    ),
    bytes AS (
        -- TRUE payload bytes via the hex encoding (r11): ord(substring)
        -- reads CHARACTERS, which silently diverges from the UTF-8
        -- byte stream on any non-ASCII doc
        SELECT asset_id, i,
               ('0x' || substr(hx, 2 * CAST(i AS INT) - 1, 2))::BIGINT AS b
        FROM img, unnest(range(1, len + 1)) AS t(i)
    ),
    agg AS (
        SELECT g.asset_id, g.w, g.h, g.len,
               SUM(b.b)       AS s,
               SUM(b.b * b.b) AS s2,
               COALESCE(SUM(b.b)       FILTER (WHERE b.i <= (g.w * g.h) % g.len), 0) AS pf,
               COALESCE(SUM(b.b * b.b) FILTER (WHERE b.i <= (g.w * g.h) % g.len), 0) AS pf2,
               COALESCE(SUM(b.b)       FILTER (WHERE b.i <= g.w % g.len), 0)         AS pr
        FROM bytes b JOIN img g USING (asset_id)
        GROUP BY g.asset_id, g.w, g.h, g.len
    )
    SELECT asset_id,
           CAST((w * h) // len * s + pf AS DOUBLE) / (w * h) AS px_mean,
           sqrt(CAST((w * h) // len * s2 + pf2 AS DOUBLE) / (w * h)
                - (CAST((w * h) // len * s + pf AS DOUBLE) / (w * h))
                  * (CAST((w * h) // len * s + pf AS DOUBLE) / (w * h))) AS px_std,
           CAST(w // len * s + pr AS DOUBLE) / w AS row0_mean
    FROM agg
    """,
)
def multimodal_image_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → pixel-stat extraction for image-modality assets: the
    payload runs through the codec slot (fake_decode — swap in a real
    codec, nothing else changes) and per-image stats come off the pixel
    grid.  End-to-end exercise of the decode contract.

    Stats are computed from exact integer moments (Σx, Σx², row-0 Σx) so
    the result is bit-deterministic and oracle-matchable: std is
    sqrt(E[x²] − E[x]²) over exact sums, not numpy's subtract-the-mean
    form (identical to the last ulp across engines; the two forms differ
    by ~1 ulp on real data, and only this one is cross-engine exact)."""
    # an empty or NULL payload is undecodable — no stats row, matching
    # the oracle whose per-byte join naturally omits such assets (r11)
    a = documents_as_assets(load_table(spark, sf_dir, "documents")).where(
        (F.col("modality") == "image") & (F.length("payload") > 0)
    )
    schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("px_mean", T.DoubleType()),
            T.StructField("px_std", T.DoubleType()),
            T.StructField("row0_mean", T.DoubleType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pb in batches:
            if len(pb) == 0:
                continue
            ids, means, stds, r0 = [], [], [], []
            for aid, payload, meta in zip(pb["asset_id"], pb["payload"], pb["meta"]):
                w, h = int(meta["width"]), int(meta["height"])
                px = fake_decode(bytes(payload), w, h).astype(np.int64)
                n = w * h
                s1, s2 = int(px.sum()), int((px * px).sum())
                r1 = int(px[0].sum())
                ids.append(aid)
                means.append(s1 / n)
                stds.append(math.sqrt(s2 / n - (s1 / n) * (s1 / n)))
                r0.append(r1 / w)
            yield pd.DataFrame(
                {"asset_id": ids, "px_mean": means, "px_std": stds, "row0_mean": r0}
            )

    from dffoo_data_pipeline_spark.sources.readers import ensure_min_partitions

    return ensure_min_partitions(
        a.select("asset_id", "payload", "meta"), "asset_id"
    ).mapInPandas(gen, schema)


@_register(
    "multimodal_arrow_byte_len",
    """
    SELECT doc_id AS asset_id, octet_length(encode(text)) AS n_bytes
    FROM documents
    """,
)
def multimodal_arrow_byte_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow variant of the byte-length scan (§2j: the zero-copy
    Arrow RecordBatch API — no pandas conversion at all; the fastest
    Python crossing for columnar byte work)."""
    import pyarrow as pa

    a = documents_as_assets(load_table(spark, sf_dir, "documents"))

    def gen(batches):
        for rb in batches:
            ids = rb.column("asset_id")
            lens = pa.compute.binary_length(rb.column("payload"))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.compute.cast(lens, pa.int64())], ["asset_id", "n_bytes"]
            )

    return a.select("asset_id", "payload").mapInArrow(
        gen, "asset_id long, n_bytes long"
    )


@_register(
    "multimodal_audio_rms",
    # Oracle-exact despite the float math: samples are integer-valued
    # (byte − 128), so Σs² is an exact integer in double regardless of
    # summation order; /256 is a power-of-two scale (exact); sqrt is
    # IEEE-correctly-rounded in both engines → bit-identical doubles.
    # bytes come from the hex encoding, so the oracle reads the TRUE
    # UTF-8 byte stream even for non-ASCII docs (r11; ord(substring)
    # read characters).
    """
    WITH audio AS (
        SELECT doc_id AS asset_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n
        FROM documents WHERE doc_id % 3 = 1
    ),
    samples AS (
        SELECT asset_id, CAST(i // 256 AS INT) AS window_no,
               CAST(('0x' || substr(hx, 2 * CAST(i AS INT) + 1, 2))::BIGINT
                    AS DOUBLE) - 128.0 AS s
        FROM audio, unnest(range(0, (n // 256) * 256)) AS t(i)
    )
    SELECT asset_id, window_no, sqrt(SUM(s * s) / 256.0) AS rms
    FROM samples GROUP BY asset_id, window_no
    """,
)
def multimodal_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed RMS over the audio-modality assets (256-sample windows);
    values unit-tested against pure numpy in tests/test_multimodal.py."""
    a = documents_as_assets(load_table(spark, sf_dir, "documents"))
    return audio_rms_windows(a.where(F.col("modality") == "audio"))


@_register(
    "multimodal_modality_zscore",
    # floor-based half-up rounding on BOTH engines (numeric.py's
    # round_det convention): plain ROUND diverges at halfway points —
    # Spark rounds the shortest-repr decimal HALF_UP, DuckDB rounds the
    # binary double half-even
    """
    SELECT asset_id, modality,
           FLOOR(((n_bytes - avg_b) / NULLIF(std_b, 0)) * 10000 + 0.5) / 10000
             AS size_zscore
    FROM (
        SELECT doc_id AS asset_id,
               ['image','audio','video'][(doc_id % 3) + 1] AS modality,
               octet_length(encode(text)) AS n_bytes,
               AVG(octet_length(encode(text)))
                 OVER (PARTITION BY ['image','audio','video'][(doc_id % 3) + 1]) AS avg_b,
               STDDEV_SAMP(octet_length(encode(text)))
                 OVER (PARTITION BY ['image','audio','video'][(doc_id % 3) + 1]) AS std_b
        FROM documents)
    """,
)
def multimodal_modality_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-modality standardization of asset sizes (grouped z-score via an
    unordered window — the normalize-within-modality step every multimodal
    curation pipeline runs before outlier filtering)."""
    from pyspark.sql import Window

    from dffoo_data_pipeline_spark.functions.numeric import round_det

    a = documents_as_assets(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("modality")
    nb = F.col("meta.n_bytes")
    z = (nb - F.avg(nb).over(w)) / F.nullif(F.stddev_samp(nb).over(w), F.lit(0))
    return a.select(
        "asset_id", "modality", round_det(z, 4).alias("size_zscore")
    )


@_register("multimodal_features")  # rows-only: numpy float aggregation in Python
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-histogram feature vectors via Arrow-batched mapInPandas (the
    decode/feature-extract slot; codec itself stubbed — see decode_image).
    Histogram values are unit-tested against pure numpy.

    The array column is serialized to JSON at this boundary: downstream
    row-hash comparators canonicalize by sorting values, and an
    ``array<double>`` cell is unhashable there.  Consumers that want the
    vector use ``byte_histogram_features`` directly.
    """
    a = documents_as_assets(load_table(spark, sf_dir, "documents"))
    feats = byte_histogram_features(a, bins=16)
    return feats.select(
        "asset_id",
        F.to_json(F.transform("features", lambda x: F.round(x, 6))).alias(
            "features_json"
        ),
        "byte_mean",
        "byte_std",
    )


def byte_histogram_rows(df: DataFrame, bins: int = 16) -> DataFrame:
    """Integer-exact twin of `byte_histogram_features`: one row per
    (asset, bin) with the raw histogram count plus the asset's byte count
    and first two moments — int64 only, so every value is exact and any
    downstream double (share, mean, std) is a fixed IEEE op sequence both
    engines reproduce bit-identically.  Emits ALL `bins` rows per asset
    (zero-count bins included), matching the dense vector the float twin
    returns.  Same Arrow-batched mapInPandas crossing, whole-batch numpy.
    """
    schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("bin", T.IntegerType()),
            T.StructField("cnt", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("byte_sum", T.LongType()),
            T.StructField("byte_sumsq", T.LongType()),
        ]
    )
    width = 256 // bins

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        empty = pd.DataFrame(
            {
                "asset_id": pd.Series(dtype="int64"),
                "bin": pd.Series(dtype="int32"),
                "cnt": pd.Series(dtype="int64"),
                "n_bytes": pd.Series(dtype="int64"),
                "byte_sum": pd.Series(dtype="int64"),
                "byte_sumsq": pd.Series(dtype="int64"),
            }
        )
        for pb in batches:
            # per-asset numpy slices, NOT a whole-batch concat: the old
            # flat-int64 + flat*flat formulation amplified batch memory to
            # ~16-24× the raw payload bytes.  Each payload is processed as
            # its own uint8 view (bincount stays uint8-indexed) and the
            # exact integer moments use one transient int64 view of ONE
            # payload at a time — peak extra memory ≈ 9× the LARGEST
            # payload, independent of maxRecordsPerBatch.  The loop is
            # per ASSET (numpy-vectorized within), not per byte.
            # Empty payloads contribute no rows (share would be 0/0, and
            # the byte-level oracle, which joins through per-byte rows,
            # omits those assets entirely — match it).  NULL payloads
            # (NULL-text docs) are the same case, not a frombuffer crash
            # (r11 hostile-input sweep).
            arrs = [
                np.frombuffer(p, dtype=np.uint8)
                if p is not None
                else np.empty(0, dtype=np.uint8)
                for p in pb["payload"]
            ]
            kept = [(i, a) for i, a in enumerate(arrs) if len(a)]
            if not kept:
                yield empty
                continue
            ids = pb["asset_id"].to_numpy()[[i for i, _ in kept]]
            na = len(kept)
            counts = np.empty(na * bins, dtype=np.int64)
            lens = np.empty(na, dtype=np.int64)
            s = np.empty(na, dtype=np.int64)
            s2 = np.empty(na, dtype=np.int64)
            for j, (_, a) in enumerate(kept):
                counts[j * bins : (j + 1) * bins] = np.bincount(
                    a // width, minlength=bins
                )
                lens[j] = len(a)
                s[j] = a.sum(dtype=np.int64)  # exact: ≤ 255·len ≪ 2⁶³
                ai = a.astype(np.int64)  # the one transient per-slice view
                s2[j] = np.dot(ai, ai)  # exact: ≤ 255²·len ≪ 2⁶³
            yield pd.DataFrame(
                {
                    "asset_id": np.repeat(ids, bins),
                    "bin": np.tile(np.arange(bins, dtype=np.int32), na),
                    "cnt": counts,
                    "n_bytes": np.repeat(lens, bins),
                    "byte_sum": np.repeat(s, bins),
                    "byte_sumsq": np.repeat(s2, bins),
                }
            )

    from dffoo_data_pipeline_spark.sources.readers import ensure_min_partitions

    return ensure_min_partitions(df.select("asset_id", "payload"), "asset_id").mapInPandas(
        gen, schema
    )


@_register(
    "multimodal_feature_bins",
    # Oracle-exact: counts and moments are integers (Σb ≤ 255·len,
    # Σb² ≤ 255²·len — far under 2^53), so share/mean/std are single IEEE
    # op sequences over exact inputs, bit-identical across engines (the
    # same discipline as the pixel-stats oracle above).  The LEFT JOIN to
    # the dense bin range keeps zero-count bins, matching the dense
    # feature vector the Python path emits.
    """
    WITH hx AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS len
        FROM documents
    ),
    b AS (
        SELECT doc_id AS asset_id,
               ('0x' || substr(hx, 2 * CAST(i AS INT) - 1, 2))::BIGINT AS v
        FROM hx, unnest(range(1, len + 1)) AS t(i)
    ),
    mom AS (
        SELECT asset_id, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS s2
        FROM b GROUP BY asset_id
    ),
    cnts AS (
        SELECT asset_id, v // 16 AS bin, COUNT(*) AS c
        FROM b GROUP BY asset_id, v // 16
    )
    SELECT m.asset_id,
           CAST(r.bin AS INT) AS bin,
           CAST(COALESCE(c.c, 0) AS DOUBLE) / m.n AS share,
           CAST(m.s AS DOUBLE) / m.n AS byte_mean,
           sqrt(CAST(m.s2 AS DOUBLE) / m.n
                - (CAST(m.s AS DOUBLE) / m.n) * (CAST(m.s AS DOUBLE) / m.n))
             AS byte_std
    FROM mom m
    CROSS JOIN (SELECT unnest(range(0, 16)) AS bin) r
    LEFT JOIN cnts c ON c.asset_id = m.asset_id AND c.bin = r.bin
    """,
)
def multimodal_feature_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verifiable form of the feature-extraction slot: the SAME
    Arrow-batched decode→histogram crossing as `multimodal_features`, but
    emitting integer-exact (bin, count, moments) rows so the driver can
    value-hash it against the DuckDB oracle (the float-vector twin is
    rows-only because numpy's pairwise std is not a fixed op sequence).

    Scale: one Python crossing, bins× row fan-out (bounded, 16), no
    shuffle at all — share/mean/std are per-row expressions.
    """
    a = documents_as_assets(load_table(spark, sf_dir, "documents"))
    rows = byte_histogram_rows(a, bins=16)
    n = F.col("n_bytes").cast("double")
    mean = F.col("byte_sum") / n
    return rows.select(
        "asset_id",
        "bin",
        (F.col("cnt") / n).alias("share"),
        mean.alias("byte_mean"),
        F.sqrt(F.col("byte_sumsq") / n - mean * mean).alias("byte_std"),
    )


# ---------------------------------------------------------------------------
# Perceptual-hash near-dup (aHash over the decode slot + banded Hamming join)
# ---------------------------------------------------------------------------

_PHASH_MAX_HAMMING = 6
_PHASH_BANDS = 8  # 8 bands × 8 bits: ≤6 flipped bits → ≥2 bands still equal


def image_ahash_codes(assets: DataFrame) -> DataFrame:
    """(asset_id, phash) — 64-bit average-hash per image asset.

    Decode (codec slot — fake_decode here, swap in a real codec and
    nothing else changes) → 8×8 block-sum thumbnail → bit i set when
    block i's mean ≥ the thumbnail mean.  The comparison is the INTEGER
    cross-multiplication 64·Σblock ≥ Σcrop (all blocks are the same
    bh×bw size, so the mean-of-block-means equals the crop mean as an
    exact rational) — no float intermediates, so the hash is
    bit-deterministic across numpy versions and reproducible in the
    byte-level SQL oracle.  Arrow-batched mapInPandas: one Python
    crossing, whole-batch numpy, 8 bytes out per asset.
    """
    schema = T.StructType(
        [
            T.StructField("asset_id", T.LongType()),
            T.StructField("phash", T.LongType()),
        ]
    )
    weights = np.power(2, np.arange(64, dtype=np.uint64))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pb in batches:
            if len(pb) == 0:
                continue
            ids, hashes = [], []
            for aid, payload, meta in zip(pb["asset_id"], pb["payload"], pb["meta"]):
                w, h = int(meta["width"]), int(meta["height"])
                px = fake_decode(bytes(payload), w, h).astype(np.int64)
                bh, bw = h // 8, w // 8  # crop to 8×8 whole blocks
                s = px[: bh * 8, : bw * 8].reshape(8, bh, 8, bw).sum(axis=(1, 3))
                bits = (64 * s >= s.sum()).flatten()
                hashes.append(int((weights * bits).sum(dtype=np.uint64).astype(np.int64)))
                ids.append(aid)
            yield pd.DataFrame({"asset_id": ids, "phash": hashes})

    from dffoo_data_pipeline_spark.sources.readers import ensure_min_partitions

    return ensure_min_partitions(
        assets.select("asset_id", "payload", "meta"), "asset_id"
    ).mapInPandas(gen, schema)


def phash_neardup(codes: DataFrame, max_hamming: int = _PHASH_MAX_HAMMING) -> DataFrame:
    """Per-asset near-dup verdict over 64-bit perceptual hashes.

    Banded candidate generation (LSH on the hash itself): split the 64
    bits into 8 byte-bands; two hashes within Hamming distance 6 agree
    on ≥2 whole bands (pigeonhole), so grouping assets per (band_idx,
    band_value) bucket finds every true pair while touching only
    bucket-colliding candidates — never assets².  Candidate pairs are
    generated combinatorially INSIDE each sorted posting list
    (`all_pairs`, the same single-consumer plan as operators/dedup.py's
    MinHash stage — the former band-table self-join recomputed the
    Python decode subtree for its second side), then verified exactly
    with bit_count(xor) in the JVM.  The exact-dup group size stays a
    groupBy+join rather than a phash window: a boilerplate image
    repeated millions of times is a
    skewed JOIN key (AQE splits it), but an unsplittable window
    partition.

    Output: asset_id, phash, n_same_hash (exact-dup group size),
    near_dup_of (lowest-id asset within max_hamming, null when none —
    the keep/drop decision keys on it).

    Pairing runs over DISTINCT hash values, not assets: the docstring's
    own motivating case — one boilerplate image repeated millions of
    times — would otherwise put M identical entries into each band's
    posting list and materialize ~M²/2 pair structs inside a single
    unsplittable collect_list row.  Distinct hashes collapse that group
    to ONE row; per-asset verdicts come back from a hash-level
    cluster-minimum (min asset id over the hash's own group and every
    hash within max_hamming), which is exactly the old per-asset-pair
    min because each hash's minimum asset IS its representative.
    """
    from dffoo_data_pipeline_spark.operators.dedup import all_pairs

    # The decode+hash subtree feeds THREE consumers (reps → bands, reps →
    # hash_info, and the final per-asset join) and `pairs` feeds the
    # neighbors union twice; without a lineage cut Catalyst re-expands
    # each consumer into its own documents scan + Python decode pass
    # (4 scans measured).  One lazy localCheckpoint = one decode pass.
    # Fault-tolerance trade accepted: localCheckpoint TRUNCATES lineage,
    # so on executor loss the 8-byte-per-asset code blocks cannot be
    # recomputed (the query fails and is re-run) and they stay pinned
    # until the session ends.  For codes this small that beats persist()
    # + an unpersist hook the query lifecycle doesn't have yet; a
    # cluster deployment with preemptible executors should swap in
    # reliable checkpointing (sparkContext.setCheckpointDir) here.
    codes = codes.localCheckpoint(eager=False)
    reps = codes.groupBy("phash").agg(
        F.min("asset_id").alias("rep_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_same_hash"),
    )
    bands = reps.select(
        "phash",
        "rep_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftrightunsigned("phash", 8 * i)
                        .bitwiseAND(F.lit(255))
                        .alias("band_val"),
                    )
                    for i in range(_PHASH_BANDS)
                ]
            )
        ).alias("b"),
    ).select("phash", "rep_id", "b.band_idx", "b.band_val")
    lists = (
        bands.groupBy("band_idx", "band_val")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("rep_id"), F.col("phash")))
            ).alias("xs")
        )
        .where(F.size("xs") >= 2)
    )
    pairs = (
        lists.select(F.explode(all_pairs("xs")).alias("p"))
        .select(
            F.col("p.a.rep_id").alias("a_rep"),
            F.col("p.b.rep_id").alias("b_rep"),
            F.col("p.a.phash").alias("a_hash"),
            F.col("p.b.phash").alias("b_hash"),
        )
        .distinct()
        .where(
            F.bit_count(F.col("a_hash").bitwiseXOR(F.col("b_hash"))) <= max_hamming
        )
    )
    neighbors = pairs.select(
        F.col("a_hash").alias("phash"), F.col("b_rep").alias("nbr")
    ).unionByName(
        pairs.select(F.col("b_hash").alias("phash"), F.col("a_rep").alias("nbr"))
    )
    nm = neighbors.groupBy("phash").agg(F.min("nbr").alias("nbr_min"))
    hash_info = reps.join(nm, "phash", "left").select(
        "phash",
        "n_same_hash",
        F.least(F.coalesce("nbr_min", "rep_id"), F.col("rep_id")).alias(
            "cluster_min"
        ),
    )
    return codes.join(hash_info, "phash").select(
        "asset_id",
        "phash",
        "n_same_hash",
        F.when(
            F.col("cluster_min") < F.col("asset_id"), F.col("cluster_min")
        ).alias("near_dup_of"),
    )


@_register(
    "multimodal_phash_neardup",
    # Oracle-exact END TO END: the aHash bit rule is the integer
    # comparison 64·Σblock ≥ Σcrop (see image_ahash_codes), so the SQL
    # can rebuild every hash from bytes — block sums come from tiled
    # prefix-sum range arithmetic (f(x) = (x // len)·total + pre[x%len],
    # the pixel-stats oracle's closed form generalized to per-block-row
    # ranges), the 64-bit word is assembled in two 32-bit halves and
    # wrapped to a signed BIGINT exactly like numpy's uint64→int64 view,
    # and the banded Hamming pairing is integer band extraction +
    # bit_count(xor) — the same candidate-generation semantics as the
    # Spark plan, expressed relationally.
    """
WITH img AS (
    SELECT doc_id AS asset_id,
           hex(encode(text)) AS hx,
           octet_length(encode(text)) AS len,
           doc_id % 512 + 16 AS w,
           doc_id % 256 + 16 AS h
    FROM documents
    WHERE doc_id % 3 = 0 AND octet_length(encode(text)) > 0
),
bytes AS (
    SELECT asset_id, i,
           ('0x' || substr(hx, 2 * CAST(i AS INT) + 1, 2))::BIGINT AS b
    FROM img, unnest(range(0, len)) AS t(i)
),
pre AS (
    SELECT asset_id, i,
           COALESCE(SUM(b) OVER (PARTITION BY asset_id ORDER BY i
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS cum0
    FROM bytes
),
tot AS (SELECT asset_id, SUM(b) AS tt FROM bytes GROUP BY asset_id),
rows_ AS (
    SELECT g.asset_id, g.len, bi.bi, bj.bj,
           (bi.bi * (g.h // 8) + r.r) * g.w + bj.bj * (g.w // 8) AS a,
           (bi.bi * (g.h // 8) + r.r) * g.w + (bj.bj + 1) * (g.w // 8) AS b2
    FROM img g,
         unnest(range(0, 8)) AS bi(bi),
         unnest(range(0, 8)) AS bj(bj),
         unnest(range(0, g.h // 8)) AS r(r)
),
rs AS (
    SELECT r.asset_id, r.bi, r.bj,
           (r.b2 // r.len - r.a // r.len) * t.tt + pb.cum0 - pa.cum0 AS rowsum
    FROM rows_ r
    JOIN tot t USING (asset_id)
    JOIN pre pa ON pa.asset_id = r.asset_id AND pa.i = r.a % r.len
    JOIN pre pb ON pb.asset_id = r.asset_id AND pb.i = r.b2 % r.len
),
blocks AS (
    SELECT asset_id, bi, bj, SUM(rowsum) AS s,
           SUM(SUM(rowsum)) OVER (PARTITION BY asset_id) AS s_crop
    FROM rs GROUP BY asset_id, bi, bj
),
halves AS (
    SELECT asset_id,
           SUM(CASE WHEN 64 * s >= s_crop AND bi * 8 + bj < 32
                    THEN 1::BIGINT << (bi * 8 + bj) ELSE 0 END) AS lo,
           SUM(CASE WHEN 64 * s >= s_crop AND bi * 8 + bj >= 32
                    THEN 1::BIGINT << (bi * 8 + bj - 32) ELSE 0 END) AS hi
    FROM blocks GROUP BY asset_id
),
codes AS (
    SELECT asset_id,
           CAST(CAST(hi AS HUGEINT) * 4294967296 + lo
                - CASE WHEN hi >= 2147483648 THEN CAST(18446744073709551616 AS HUGEINT)
                       ELSE 0::HUGEINT END AS BIGINT) AS phash
    FROM halves
),
reps AS (
    SELECT phash, MIN(asset_id) AS rep_id, CAST(COUNT(*) AS BIGINT) AS n_same_hash
    FROM codes GROUP BY phash
),
u AS (
    SELECT phash, rep_id,
           CAST(phash AS HUGEINT)
           + CASE WHEN phash < 0 THEN CAST(18446744073709551616 AS HUGEINT)
                  ELSE 0::HUGEINT END AS uh
    FROM reps
),
bands AS (
    SELECT u.phash, u.rep_id, d.k,
           CAST((u.uh // d.dv) % 256 AS BIGINT) AS bv
    FROM u, (VALUES (0, 1::HUGEINT), (1, 256::HUGEINT), (2, 65536::HUGEINT),
                    (3, 16777216::HUGEINT), (4, 4294967296::HUGEINT),
                    (5, 1099511627776::HUGEINT), (6, 281474976710656::HUGEINT),
                    (7, 72057594037927936::HUGEINT)) AS d(k, dv)
),
pairs AS (
    SELECT DISTINCT a.rep_id AS a_rep, b.rep_id AS b_rep,
                    a.phash AS a_hash, b.phash AS b_hash
    FROM bands a JOIN bands b ON a.k = b.k AND a.bv = b.bv AND a.rep_id < b.rep_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 6
),
nbr AS (
    SELECT a_hash AS phash, b_rep AS nb FROM pairs
    UNION ALL
    SELECT b_hash AS phash, a_rep AS nb FROM pairs
),
nm AS (SELECT phash, MIN(nb) AS nbr_min FROM nbr GROUP BY phash),
hash_info AS (
    SELECT r.phash, r.n_same_hash,
           LEAST(COALESCE(nm.nbr_min, r.rep_id), r.rep_id) AS cluster_min
    FROM reps r LEFT JOIN nm USING (phash)
)
SELECT c.asset_id, c.phash, h.n_same_hash,
       CASE WHEN h.cluster_min < c.asset_id THEN h.cluster_min END AS near_dup_of
FROM codes c JOIN hash_info h USING (phash)
    """,
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup detection by perceptual hash — the visual analog of
    MinHash-LSH for text: decode → aHash → banded Hamming join.  Pair
    quality (identical payloads collide, 1-byte edits stay within
    Hamming 6, unrelated images don't pair) is unit-tested
    (tests/test_multimodal.py); the integer-exact bit rule makes the
    whole path — Python decode included — value-hash-verifiable against
    the byte-level SQL oracle.

    Scale: hashing is one Arrow-batched pass (8 bytes out per asset);
    the candidate join shuffles on (band_idx, band_val) — 2048 distinct
    buckets here, uniform by construction of the hash; exact
    verification is a JVM bit_count on candidates only.
    """
    a = documents_as_assets(load_table(spark, sf_dir, "documents")).where(
        (F.col("modality") == "image") & (F.col("meta.n_bytes") > 0)
    )
    return phash_neardup(image_ahash_codes(a))


# ---------------------------------------------------------------------------
# Audio activity segmentation (VAD-style islands over RMS windows)
# ---------------------------------------------------------------------------

RMS_ACTIVE_THRESHOLD = 20.0  # window is "active" when RMS energy >= this


def audio_activity_segments(
    rms_df: DataFrame, threshold: float = RMS_ACTIVE_THRESHOLD
) -> DataFrame:
    """Collapse per-window RMS energies into maximal runs of consecutive
    active windows — the voice-activity-detection segmentation a speech
    pipeline runs before transcription/chunk export.  Input is
    audio_rms_windows' (asset_id, window_no, rms); output one row per
    segment: start/end window, length, mean energy.

    Plan: filter to active windows, then the gaps-and-islands idiom —
    window_no − ROW_NUMBER() over (asset, window order) is constant
    exactly within a consecutive run — and one (asset, run) rollup.
    Everything after the Python RMS kernel is JVM-side; the window
    shuffle is keyed by asset_id (an asset's windows are bounded by its
    duration, not corpus size).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("asset_id").orderBy("window_no")
    active = rms_df.where(F.col("rms") >= threshold)
    grp = (F.col("window_no") - F.row_number().over(w)).alias("grp")
    # sum_sq recovers each window's exact integer energy Σs² from its
    # correctly-rounded rms (k = round(rms²·256); |error| ~2ulp·k ≪ 0.5
    # for k ≤ 256·128²), so the segment total is an exact BIGINT no
    # matter the aggregation order — the hash-verifiable energy stat,
    # where mean_rms (an order-dependent double average) is not
    return (
        active.select("asset_id", "window_no", "rms", grp)
        .groupBy("asset_id", "grp")
        .agg(
            F.min("window_no").alias("start_window"),
            F.max("window_no").alias("end_window"),
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.round(F.avg("rms"), 4).alias("mean_rms"),
            F.sum(
                F.round(F.col("rms") * F.col("rms") * 256).cast("bigint")
            ).alias("sum_sq"),
        )
        .drop("grp")
    )


@_register(
    "multimodal_audio_segments",
    # Oracle-exact: window energy k = Σ(byte−128)² is an exact integer
    # (≤ 256·128², far under 2^53); the activity gate rms ≥ 20 is the
    # integer comparison k ≥ 20²·256 = 102400 (sqrt is monotone and the
    # boundary is attained only at exactly k = 102400, where sqrt is
    # exact); islands are the window_no − ROW_NUMBER() idiom; the
    # segment energy is an integer SUM.  mean_rms stays out of the
    # driver row — averaging irrational doubles is summation-order-
    # dependent; consumers who want it use audio_activity_segments.
    """
    WITH audio AS (
        SELECT doc_id AS asset_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n
        FROM documents WHERE doc_id % 3 = 1
    ),
    win AS (
        SELECT asset_id, CAST(i // 256 AS INT) AS window_no,
               SUM((('0x' || substr(hx, 2 * CAST(i AS INT) + 1, 2))::BIGINT - 128)
                   * (('0x' || substr(hx, 2 * CAST(i AS INT) + 1, 2))::BIGINT - 128))
                 AS k
        FROM audio, unnest(range(0, (n // 256) * 256)) AS t(i)
        GROUP BY asset_id, i // 256
    ),
    active AS (
        SELECT asset_id, window_no, k,
               window_no - ROW_NUMBER() OVER (PARTITION BY asset_id ORDER BY window_no)
                 AS grp
        FROM win WHERE k >= 102400
    )
    SELECT asset_id,
           MIN(window_no) AS start_window,
           MAX(window_no) AS end_window,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(k) AS BIGINT) AS sum_sq
    FROM active GROUP BY asset_id, grp
    """,
)
def multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity segments over the audio assets: 256-sample RMS windows
    (Arrow-batched kernel) → threshold → consecutive-run rollup.
    Segment semantics (runs, boundaries, single-window islands) are
    pinned against constructed payloads in tests/test_multimodal.py.
    The driver row carries the exact-integer segment energy (sum_sq)
    instead of mean_rms so the whole Python DSP path is value-hash
    verified against the byte-level SQL oracle."""
    a = documents_as_assets(load_table(spark, sf_dir, "documents"))
    rms = audio_rms_windows(a.where(F.col("modality") == "audio"))
    return audio_activity_segments(rms).select(
        "asset_id", "start_window", "end_window", "n_windows", "sum_sq"
    )
