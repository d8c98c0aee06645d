"""Driver-visible ingestion queries: the email/MIME and multimodal paths
as registry entries — HASH-CHECKED via fixture parquet.

The pipelines themselves (stdlib MIME parsing, mapInPandas decode) are
not SQL-expressible, so the oracle strategy is differential instead:
sources/fixtures.py lands (a) the raw inputs and (b) the expected outputs
of a sequential driver-side reference implementation as parquet. The
Spark side runs the DISTRIBUTED pipeline over (a); the DuckDB oracle runs
plain SQL over (b). A hash match proves the distributed parse/decode
equals the sequential reference byte-for-byte, then that the stats agree.

Both are deterministic end-to-end: fixtures are generated from fixed
seeds/ids (written once, idempotent, no Spark session involved).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from emails_to_vector_db_spark.plans.registry import register
from emails_to_vector_db_spark.sources.fixtures import ensure_fixtures
from emails_to_vector_db_spark.sources.tables import load_table

_FIXTURES = ensure_fixtures()

_EMAIL_ORACLE = f"""
SELECT msg_id,
       length(text) AS n_chars,
       len(string_split_regex(trim(text), '\\s+')) AS n_tokens
FROM read_parquet('{_FIXTURES["emails_text_ref"]}')
"""


@register(
    "email_ingest_text_stats",
    oracle=_EMAIL_ORACLE,
    tags=("email", "ingest", "U4", "P7"),
)
def email_ingest_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's email pipeline (``email_fetching.py:30-51``) end to
    end on the landed MIME corpus: parse UDF → text/plain explode/filter →
    order-preserving re-concat → non-empty filter → per-message text
    stats. The oracle reads the sequential reference extraction from
    parquet — hash match proves the distributed extraction identical.
    (sf_dir unused: the corpus is a fixed fixture, not scaled.)"""
    from emails_to_vector_db_spark.sources.emails import (
        RAW_EMAIL_SCHEMA,
        extract_plain_text,
    )

    raw = spark.read.schema(RAW_EMAIL_SCHEMA).parquet(_FIXTURES["emails_raw"])
    texts = extract_plain_text(raw)
    return texts.select(
        "msg_id",
        F.length("text").alias("n_chars"),
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
    )


_MEDIA_ORACLE = f"""
SELECT modality,
       count(*)::BIGINT AS n_items,
       sum(n_bytes)::BIGINT AS total_bytes,
       round(avg(feature[1]), 6) AS avg_f0
FROM read_parquet('{_FIXTURES["media_features_ref"]}')
GROUP BY modality
"""


@register(
    "multimodal_feature_stats",
    oracle=_MEDIA_ORACLE,
    tags=("multimodal", "mapInPandas"),
)
def multimodal_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline through the driver contract: landed binary
    media (REAL binary-PPM images + WAV-PCM audio, opaque video blobs) →
    mapInPandas decode + feature extraction → per-modality stats. The
    oracle aggregates the sequential reference features from parquet, so
    the Arrow-batched distributed decode path is hash-checked."""
    from emails_to_vector_db_spark.sources.fixtures import FEATURE_DIM
    from emails_to_vector_db_spark.sources.multimodal import extract_features

    media = spark.read.parquet(_FIXTURES["media_raw"])
    feats = extract_features(media, dim=FEATURE_DIM)
    return feats.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("n_bytes").alias("total_bytes"),
        F.round(F.avg(F.element_at("feature", 1)), 6).alias("avg_f0"),
    )


_FRAMES_ORACLE = f"""
SELECT media_id, frame_idx, width, height, round(mean_px, 6) AS mean_px
FROM read_parquet('{_FIXTURES["video_frames_ref"]}')
"""


@register(
    "video_frame_stats",
    oracle=_FRAMES_ORACLE,
    tags=("multimodal", "video", "mapInPandas"),
)
def video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling through the driver contract: raw
    concatenated-PPM video payloads are demuxed inside mapInPandas, every
    2nd frame decoded, per-frame (width, height, mean pixel) emitted —
    one video row fanning out to its sampled frames inside the Arrow
    batch. The oracle reads the sequential demux+decode of the same
    payloads from fixture parquet, hash-checking the distributed decode
    byte-for-byte."""
    from emails_to_vector_db_spark.sources.multimodal import (
        extract_video_frames,
    )

    media = spark.read.parquet(_FIXTURES["media_raw"])
    frames = extract_video_frames(media, every_n=2)
    return frames.select(
        "media_id",
        "frame_idx",
        "width",
        "height",
        F.round("mean_px", 6).alias("mean_px"),
    )


@register(
    "email_datasource_stats",
    oracle=_EMAIL_ORACLE,  # same reference extraction — connector must agree
    tags=("email", "datasource", "S3", "S4"),
)
def email_datasource_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME email pipeline as email_ingest_text_stats, but ingesting
    through the Spark 4 Python DataSource connector
    (sources/email_datasource.py) instead of landed parquet: 4 range
    partitions generate their message slices executor-side, then parse →
    explode/filter → re-concat → stats. Hash-matching the sequential
    reference extraction proves the connector's partition-parallel scan
    delivers the identical corpus."""
    from emails_to_vector_db_spark.sources.email_datasource import (
        EmailCorpusDataSource,
    )
    from emails_to_vector_db_spark.sources.emails import extract_plain_text
    from emails_to_vector_db_spark.sources.fixtures import FIXTURE_EMAILS_N

    spark.dataSource.register(EmailCorpusDataSource)
    # the connector implements pushFilters; Spark requires opt-in
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    raw = (
        spark.read.format("email_corpus")
        .option("n", str(FIXTURE_EMAILS_N))
        .option("numPartitions", "4")
        .load()
    )
    texts = extract_plain_text(raw)
    return texts.select(
        "msg_id",
        F.length("text").alias("n_chars"),
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
    )


_SPECTRAL_ORACLE = f"""
SELECT media_id, n_samples, rate,
       round(dominant_hz, 6) + 0.0 AS dominant_hz,
       round(centroid_hz, 6) + 0.0 AS centroid_hz
FROM read_parquet('{_FIXTURES["audio_spectral_ref"]}')
"""


@register(
    "audio_spectral_stats",
    oracle=_SPECTRAL_ORACLE,
    tags=("multimodal", "audio", "dsp", "mapInPandas"),
)
def audio_spectral_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frequency-domain audio analysis through the driver contract:
    WAV payloads decode inside mapInPandas, numpy rFFT per clip, dominant
    frequency + spectral centroid emitted per clip — multimodal feature
    extraction past byte/PCM stats into actual DSP. The oracle reads the
    sequential (plain-loop) analysis of the same payloads from fixture
    parquet, hash-checking the distributed path end to end. Clips are
    independent: at 100 TB this partitions freely and shuffles nothing."""
    from emails_to_vector_db_spark.sources.multimodal import (
        extract_audio_spectral,
    )

    media = spark.read.parquet(_FIXTURES["media_raw"])
    spec = extract_audio_spectral(media)
    return spec.select(
        "media_id",
        "n_samples",
        "rate",
        (F.round("dominant_hz", 6) + F.lit(0.0)).alias("dominant_hz"),
        (F.round("centroid_hz", 6) + F.lit(0.0)).alias("centroid_hz"),
    )


_RESIZE_ORACLE = f"""
SELECT media_id, out_w, out_h,
       round(mean_r, 6) + 0.0 AS mean_r,
       round(mean_g, 6) + 0.0 AS mean_g,
       round(mean_b, 6) + 0.0 AS mean_b,
       checksum
FROM read_parquet('{_FIXTURES["image_resize_ref"]}')
"""


@register(
    "image_resize_stats",
    oracle=_RESIZE_ORACLE,
    tags=("multimodal", "image", "resize", "mapInPandas"),
)
def image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resize stage of a multimodal ingest, driver-checked: PPM/BMP
    payloads decode inside mapInPandas, numpy bilinear 4x4 thumbnail per
    image, per-channel means + an exact integer pixel checksum. The
    oracle reads the sequential (plain-loop) resize of the same payloads
    from fixture parquet — a differential test of the distributed decode
    → resize path. Images are independent: partitions freely at 100 TB,
    zero shuffle."""
    from emails_to_vector_db_spark.sources.multimodal import (
        extract_image_thumbs,
    )

    media = spark.read.parquet(_FIXTURES["media_raw"])
    thumbs = extract_image_thumbs(media)
    return thumbs.select(
        "media_id",
        "out_w",
        "out_h",
        (F.round("mean_r", 6) + F.lit(0.0)).alias("mean_r"),
        (F.round("mean_g", 6) + F.lit(0.0)).alias("mean_g"),
        (F.round("mean_b", 6) + F.lit(0.0)).alias("mean_b"),
        "checksum",
    )


_FORMATS_ORACLE = """
SELECT event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value), 2) + 0.0 AS total_value,
       min(epoch_us(ts))::BIGINT AS first_us,
       max(epoch_us(ts))::BIGINT AS last_us
FROM events
GROUP BY event_type
"""


@register(
    "json_source_stats",
    oracle=_FORMATS_ORACLE,
    tags=("source", "json", "S1"),
)
def json_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table through the JSON Lines reader (explicit schema,
    FAILFAST) instead of parquet — the oracle aggregates the ORIGINAL
    parquet rows, so a hash match proves the JSON scan is lossless
    (types, timestamps, row set). Explicit schema because inference is a
    full extra scan at 100 TB."""
    from emails_to_vector_db_spark.sources.formats import read_events_json

    ev = read_events_json(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.round(F.sum("value"), 2) + F.lit(0.0)).alias("total_value"),
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )


@register(
    "orc_source_stats",
    oracle=_FORMATS_ORACLE,  # same oracle: format must not change results
    tags=("source", "orc", "S1"),
)
def orc_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same aggregation through the ORC reader — identical results
    from a second columnar format (ORC scans get the same pushdown
    treatment as parquet). Avro is documented as unavailable (spark-avro
    is a separate package not in this container)."""
    from emails_to_vector_db_spark.sources.formats import read_events_orc

    ev = read_events_orc(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.round(F.sum("value"), 2) + F.lit(0.0)).alias("total_value"),
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )


_FPRINT_ORACLE = """
SELECT event_type,
       count(*)::BIGINT AS n_rows,
       bit_xor(('0x' || substr(md5(
           event_id::VARCHAR || '|' || user_id::VARCHAR || '|' ||
           event_type || '|' || epoch_us(ts)::VARCHAR
       ), 1, 15))::BIGINT) AS fingerprint
FROM events
GROUP BY event_type
"""


@register(
    "events_table_fingerprint",
    oracle=_FPRINT_ORACLE,
    tags=("integrity", "fingerprint", "cdc"),
)
def events_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprint: XOR of a canonical per-row
    hash, grouped by event_type — the anti-entropy check a CDC/replication
    pipeline runs to verify a replica without moving data (compare one
    row per partition key across systems; any dropped, duplicated, or
    mutated row flips the XOR). bit_xor is associative/commutative and
    cannot overflow, so it map-side combines and is partitioning-proof —
    at 100 TB the check costs one scan and shuffles 8 bytes per group.
    The row rendering sticks to integer/string columns (doubles format
    differently across engines; hash-checked columns must have canonical
    text forms)."""
    ev = load_table(spark, sf_dir, "events")
    row_txt = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.col("user_id").cast("string"),
        F.col("event_type"),
        F.unix_micros("ts").cast("string"),
    )
    h = F.conv(F.substring(F.md5(row_txt), 1, 15), 16, 10).cast("long")
    return (
        ev.select("event_type", h.alias("h"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(h)").alias("fingerprint"),
        )
    )


_DHASH_BAND_BITS = 16
_DHASH_N_BANDS = 4
_DHASH_MAX_HAMMING = 10

_DHASH_ORACLE = f"""
WITH h AS (
    SELECT media_id, dhash
    FROM read_parquet('{_FIXTURES["image_dhash_ref"]}')
),
bands AS (
    SELECT media_id, dhash, b.band_idx,
           ((dhash >> ({_DHASH_BAND_BITS} * b.band_idx)) & 65535) AS band_val
    FROM h, (SELECT unnest([0, 1, 2, 3]) AS band_idx) b
),
cand AS (
    SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
           a.dhash AS da, b.dhash AS db
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.media_id < b.media_id
)
SELECT id_a, id_b, hamming FROM (
    SELECT id_a, id_b, bit_count(xor(da, db))::BIGINT AS hamming FROM cand
) WHERE hamming <= {_DHASH_MAX_HAMMING}
"""


@register(
    "image_dhash_near_dups",
    oracle=_DHASH_ORACLE,
    tags=("multimodal", "image", "dedup", "dhash", "lsh"),
)
def image_dhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup — the image-space member of the
    near-dup family (MinHash:text :: dHash:images): raw PPM/BMP payloads
    decode in a mapInPandas lane to a 64-bit dHash (8×9 grayscale
    gradient signs), then near-duplicate pairs come from the SAME banded
    LSH shape as SimHash — 4×16-bit bands, bucket-local self-join,
    Hamming ≤ 10 scored with one xor+bit_count. The fixture plants
    brightness-shifted and 2×-upscaled copies (measured Hamming ≤ 5;
    unrelated pairs ≥ 20); the oracle replays banding+Hamming in SQL
    over the sequential dHash reference, so the distributed decode→hash
    lane is differentially proven and the pair logic is hash-checked.

    100 TB shape: pixels never shuffle — only 8-byte hashes move, banded
    bucket join instead of all-pairs (pigeonhole: Hamming ≤ 3 always
    collides in some band; the wider candidate net is recall-bounded by
    the same banding both engines run). Reference has no media handling
    at all (cf. rag.py:40-50)."""
    from emails_to_vector_db_spark.sources.multimodal import (
        extract_image_dhash,
    )

    images = spark.read.parquet(_FIXTURES["images_dhash_raw"])
    hashes = extract_image_dhash(images)
    banded = hashes.select(
        "media_id",
        "dhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(
                        F.col("dhash"), _DHASH_BAND_BITS * b
                    ).bitwiseAND(F.lit(65535))
                    for b in range(_DHASH_N_BANDS)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    left = banded.select(
        F.col("media_id").alias("id_a"),
        F.col("dhash").alias("da"),
        "band_idx",
        "band_val",
    )
    right = banded.select(
        F.col("media_id").alias("id_b"),
        F.col("dhash").alias("db"),
        "band_idx",
        "band_val",
    )
    cand = (
        left.join(right, ["band_idx", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("da").bitwiseXOR(F.col("db"))).cast("long"),
        )
        .where(F.col("hamming") <= _DHASH_MAX_HAMMING)
        .select("id_a", "id_b", "hamming")
    )


@register(
    "email_datasource_stream_stats",
    oracle=_EMAIL_ORACLE,  # same reference extraction — stream must agree
    tags=("email", "datasource", "streaming", "S3", "S4"),
)
def email_datasource_stream_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The email pipeline ingesting through the connector's STREAMING
    reader (SimpleDataSourceStreamReader, incremental msg_id offsets,
    bounded micro-batches) — the full incremental-IMAP shape: poll,
    advance the watermark, parse, extract. The bounded stream must
    deliver exactly the corpus the batch connector scans, so the SAME
    sequential-reference oracle hash-checks it. The stream is polled
    until every email has arrived: an ``availableNow`` run of this
    Python stream reader ends after its first batches."""
    from emails_to_vector_db_spark.sources.email_datasource import (
        EmailCorpusDataSource,
    )
    from emails_to_vector_db_spark.sources.emails import extract_plain_text
    from emails_to_vector_db_spark.sources.fixtures import FIXTURE_EMAILS_N
    from emails_to_vector_db_spark.streaming.run import collect

    def emails(s: SparkSession) -> DataFrame:
        try:
            s.dataSource.register(EmailCorpusDataSource)
        except Exception:
            pass  # already registered in this session
        return (
            s.readStream.format("email_corpus")
            .option("n", str(FIXTURE_EMAILS_N))
            .option("batchSize", "16")
            .load()
        )

    raw = collect(spark, emails, "append", rows=FIXTURE_EMAILS_N)
    texts = extract_plain_text(raw)
    return texts.select(
        "msg_id",
        F.length("text").alias("n_chars"),
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
    )


_SHOT_THR = 5.0

_SHOTS_ORACLE = f"""
WITH f AS (
    SELECT media_id, frame_idx, round(mean_px, 6) AS m
    FROM read_parquet('{_FIXTURES["video_frames_ref"]}')
),
d AS (
    SELECT media_id, m,
           abs(m - lag(m) OVER (
               PARTITION BY media_id ORDER BY frame_idx
           )) AS diff
    FROM f
)
SELECT media_id,
       count(*)::BIGINT AS n_sampled_frames,
       (1 + sum(CASE WHEN diff > {_SHOT_THR} THEN 1 ELSE 0 END))::BIGINT
           AS n_shots,
       round(max(diff), 6) AS max_frame_diff
FROM d GROUP BY media_id
"""


@register(
    "video_shot_boundaries",
    oracle=_SHOTS_ORACLE,
    tags=("multimodal", "video", "mapInPandas", "window"),
)
def video_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over the sampled video frame stream: a
    cut is declared where consecutive sampled frames' mean-pixel values
    jump by more than {thr} — the classic frame-difference detector,
    here as REAL distributed demux+decode (mapInPandas, every 2nd
    frame) feeding a per-video lag() window. The oracle replays the
    boundary logic IN SQL over the sequential reference decode, so both
    the decode values and the windowed detector are hash-checked.

    Plan: frames fan out inside Arrow batches; the window partitions by
    media_id (frames-per-video bounded by clip length — not a
    corpus-cardinality window); per-video shot counts aggregate
    map-side. Diffs compare 6dp-rounded means on both sides so the
    threshold test sits on bit-identical inputs.
    """
    from emails_to_vector_db_spark.sources.multimodal import (
        extract_video_frames,
    )

    media = spark.read.parquet(_FIXTURES["media_raw"])
    frames = extract_video_frames(media, every_n=2).select(
        "media_id", "frame_idx", F.round("mean_px", 6).alias("m")
    )
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    d = frames.withColumn(
        "diff", F.abs(F.col("m") - F.lag("m").over(w))
    )
    return d.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_sampled_frames"),
        (
            1
            + F.sum(
                F.when(F.col("diff") > _SHOT_THR, 1).otherwise(0)
            )
        ).cast("long").alias("n_shots"),
        F.round(F.max("diff"), 6).alias("max_frame_diff"),
    )


_CODEC_ORACLE = f"""
SELECT r.mime,
       count(*)::BIGINT AS n_images,
       round(avg(f.feature[3]), 6) AS avg_mean_r,
       round(avg(f.n_bytes), 6) AS avg_bytes
FROM read_parquet('{_FIXTURES["media_raw"]}') r
JOIN read_parquet('{_FIXTURES["media_features_ref"]}') f
  ON f.media_id = r.media_id
WHERE r.modality = 'image'
GROUP BY r.mime
"""


@register(
    "image_codec_stats",
    oracle=_CODEC_ORACLE,
    tags=("multimodal", "codec", "mapInPandas"),
)
def image_codec_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-CODEC image statistics — one row per container format (PPM,
    BMP, PNG, JPEG), proving every decoder in the magic-byte dispatch
    (including the baseline-JPEG Huffman/IDCT path, sources/jpeg.py)
    produces hash-identical features through the distributed
    mapInPandas lane vs the sequential reference decode. feature[3] is
    the mean-red slot, so the checked value depends on actual decoded
    PIXELS, not container metadata.
    """
    from emails_to_vector_db_spark.sources.fixtures import FEATURE_DIM
    from emails_to_vector_db_spark.sources.multimodal import extract_features

    media = spark.read.parquet(_FIXTURES["media_raw"])
    feats = extract_features(media, dim=FEATURE_DIM).where(
        F.col("modality") == "image"
    )
    mimes = media.select("media_id", "mime")
    return (
        feats.join(mimes, "media_id")
        .groupBy("mime")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.round(F.avg(F.element_at("feature", 3)), 6).alias(
                "avg_mean_r"
            ),
            F.round(F.avg("n_bytes"), 6).alias("avg_bytes"),
        )
    )


_RESAMPLE_ORACLE = f"""
SELECT media_id, in_rate, out_rate, n_in, n_out,
       round(mean_abs, 6) + 0.0 AS mean_abs,
       checksum
FROM read_parquet('{_FIXTURES["audio_resample_ref"]}')
"""


@register(
    "audio_resample_stats",
    oracle=_RESAMPLE_ORACLE,
    tags=("multimodal", "audio", "resample", "mapInPandas"),
)
def audio_resample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sample-rate-normalization stage of an audio ingest,
    driver-checked: WAV payloads decode inside mapInPandas and
    linear-resample 8 kHz → 4 kHz (edge-clamped interpolation, int16
    requantization — the audio twin of the bilinear thumbnail lane),
    emitting lengths, 6dp mean |amplitude| and an EXACT integer
    checksum of the resampled stream. The oracle reads the sequential
    resample of the same payloads from fixture parquet — a
    differential test of the distributed decode → resample path.
    Clips are independent: partitions freely, zero shuffle."""
    from emails_to_vector_db_spark.sources.multimodal import (
        extract_audio_resample,
    )

    media = spark.read.parquet(_FIXTURES["media_raw"])
    res = extract_audio_resample(media)
    return res.select(
        "media_id",
        "in_rate",
        "out_rate",
        "n_in",
        "n_out",
        (F.round("mean_abs", 6) + F.lit(0.0)).alias("mean_abs"),
        "checksum",
    )
