"""Deterministic fixture parquet for the DuckDB oracle.

The email and multimodal pipelines consume synthetic in-process data, which
a SQL oracle cannot see — so their driver checks were rows-only. This
module lands BOTH the raw inputs and the reference (sequential,
driver-side) expected outputs as parquet files, written once with pyarrow
(no Spark session, no jobs, idempotent):

- ``emails_raw.parquet``       (msg_id, raw)   — RFC822 bytes
- ``emails_text_ref.parquet``  (msg_id, text)  — reference_extract_text
  output (``email_fetching.py:41-49`` semantics), non-empty only
- ``media_raw.parquet``        MEDIA_SCHEMA rows (real PPM/WAV/raw-video
  payloads)
- ``media_features_ref.parquet`` (media_id, modality, feature, n_bytes)
  — media_feature() computed in a plain loop
- ``video_frames_ref.parquet`` (media_id, frame_idx, width, height,
  mean_px) — sequential frame demux + decode of every 2nd frame

The registered queries then run the DISTRIBUTED pipeline (pandas_udf MIME
parse → explode/filter/re-concat; mapInPandas decode → feature) over the
raw fixtures, while the oracle runs plain SQL over the reference outputs:
a true differential test of the distributed implementation, hash-checked
end to end.
"""

from __future__ import annotations

import os

from emails_to_vector_db_spark.sources.warehouse import publish

FIXTURE_EMAILS_N = 40
FIXTURE_MEDIA_N = 48
FEATURE_DIM = 16
FIXTURE_BPE_MERGES = 12

# The corpus the driver's DuckDB correctness gate runs at; fixture
# references that depend on a corpus (BPE) are computed over it.
ORACLE_SF_DIR = "/root/testdata/sf0.01"


# Bump when fixture CONTENT changes (e.g. the media corpus format): the
# fixtures are published once per version, so a new version gets a new
# dir and stale files can never leak into the differential check.
# v4: image rows alternate PPM / 24-bit BMP containers (decode dispatch).
# v5: + image_resize_ref (sequential bilinear-thumbnail reference).
# v6: + images_dhash_raw / image_dhash_ref (perceptual-hash dedup corpus
#     with planted brightness/upscale near-duplicates).
# v7: image containers rotate PPM/BMP/PNG (real stdlib-zlib PNG codec);
#     + bpe_merges_ref / bpe_segment_ref (sequential Sennrich-style BPE
#     reference over the sf0.01 documents corpus).
# v8: image containers rotate PPM/BMP/PNG/JPEG (real stdlib baseline
#     4:4:4 JPEG codec, sources/jpeg.py).
# v9: + audio_resample_ref (sequential linear-resample reference — the
#     audio twin of the bilinear thumbnail lane).
FIXTURE_VERSION = 9


_FIXTURE_NAMES = (
    "emails_raw",
    "emails_text_ref",
    "media_raw",
    "media_features_ref",
    "video_frames_ref",
    "audio_spectral_ref",
    "image_resize_ref",
    "audio_resample_ref",
    "images_dhash_raw",
    "image_dhash_ref",
    "bpe_merges_ref",
    "bpe_segment_ref",
)


def ensure_fixtures() -> dict[str, str]:
    """Publish all fixture parquet files once per FIXTURE_VERSION (the
    artifact has no sources: its kind carries the version); return
    name → path."""
    d = publish(f"fixtures_v{FIXTURE_VERSION}", [], _write_fixtures)
    return {n: os.path.join(d, f"{n}.parquet") for n in _FIXTURE_NAMES}


def _write_fixtures(d: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = {n: os.path.join(d, f"{n}.parquet") for n in _FIXTURE_NAMES}

    from emails_to_vector_db_spark.sources.emails import (
        reference_extract_text,
        synthetic_email_rows,
    )

    email_rows = synthetic_email_rows(FIXTURE_EMAILS_N)
    pq.write_table(
        pa.table(
            {
                "msg_id": [m for m, _ in email_rows],
                "raw": pa.array([r for _, r in email_rows], type=pa.binary()),
            }
        ),
        paths["emails_raw"],
    )
    extracted = [(m, reference_extract_text(r)) for m, r in email_rows]
    nonempty = [(m, t) for m, t in extracted if t]
    pq.write_table(
        pa.table(
            {
                "msg_id": [m for m, _ in nonempty],
                "text": [t for _, t in nonempty],
            }
        ),
        paths["emails_text_ref"],
    )

    from emails_to_vector_db_spark.sources.multimodal import (
        media_feature,
        synthetic_media_rows,
        video_frame_stats_rows,
    )

    media_rows = synthetic_media_rows(FIXTURE_MEDIA_N)
    meta_type = pa.struct(
        [
            ("width", pa.int32()),
            ("height", pa.int32()),
            ("duration_ms", pa.int32()),
            ("sha256", pa.string()),
        ]
    )
    pq.write_table(
        pa.table(
            {
                "media_id": pa.array([r[0] for r in media_rows], pa.int64()),
                "modality": [r[1] for r in media_rows],
                "mime": [r[2] for r in media_rows],
                "payload": pa.array([r[3] for r in media_rows], pa.binary()),
                "meta": pa.array([r[4] for r in media_rows], meta_type),
            }
        ),
        paths["media_raw"],
    )
    pq.write_table(
        pa.table(
            {
                "media_id": pa.array([r[0] for r in media_rows], pa.int64()),
                "modality": [r[1] for r in media_rows],
                "feature": pa.array(
                    [
                        [float(v) for v in media_feature(r[1], r[3], FEATURE_DIM)]
                        for r in media_rows
                    ],
                    pa.list_(pa.float32()),
                ),
                "n_bytes": pa.array(
                    [len(r[3]) for r in media_rows], pa.int64()
                ),
            }
        ),
        paths["media_features_ref"],
    )

    frame_rows = [
        fr
        for r in media_rows
        if r[1] == "video"
        for fr in video_frame_stats_rows(r[0], r[3], every_n=2)
    ]
    pq.write_table(
        pa.table(
            {
                "media_id": pa.array([f[0] for f in frame_rows], pa.int64()),
                "frame_idx": pa.array([f[1] for f in frame_rows], pa.int32()),
                "width": pa.array([f[2] for f in frame_rows], pa.int32()),
                "height": pa.array([f[3] for f in frame_rows], pa.int32()),
                "mean_px": pa.array([f[4] for f in frame_rows], pa.float64()),
            }
        ),
        paths["video_frames_ref"],
    )

    from emails_to_vector_db_spark.sources.multimodal import audio_spectral

    spec_rows = [
        (r[0], *audio_spectral(r[3])) for r in media_rows if r[1] == "audio"
    ]
    pq.write_table(
        pa.table(
            {
                "media_id": pa.array([s[0] for s in spec_rows], pa.int64()),
                "n_samples": pa.array([s[1] for s in spec_rows], pa.int64()),
                "rate": pa.array([s[2] for s in spec_rows], pa.int64()),
                "dominant_hz": pa.array(
                    [s[3] for s in spec_rows], pa.float64()
                ),
                "centroid_hz": pa.array(
                    [s[4] for s in spec_rows], pa.float64()
                ),
            }
        ),
        paths["audio_spectral_ref"],
    )

    from emails_to_vector_db_spark.sources.multimodal import image_thumb_stats

    thumb_rows = [
        image_thumb_stats(r[0], r[3]) for r in media_rows if r[1] == "image"
    ]
    pq.write_table(
        pa.table(
            {
                "media_id": pa.array([t[0] for t in thumb_rows], pa.int64()),
                "out_w": pa.array([t[1] for t in thumb_rows], pa.int32()),
                "out_h": pa.array([t[2] for t in thumb_rows], pa.int32()),
                "mean_r": pa.array([t[3] for t in thumb_rows], pa.float64()),
                "mean_g": pa.array([t[4] for t in thumb_rows], pa.float64()),
                "mean_b": pa.array([t[5] for t in thumb_rows], pa.float64()),
                "checksum": pa.array([t[6] for t in thumb_rows], pa.int64()),
            }
        ),
        paths["image_resize_ref"],
    )

    from emails_to_vector_db_spark.sources.multimodal import (
        audio_resample_stats,
    )

    res_rows = [
        audio_resample_stats(r[0], r[3]) for r in media_rows if r[1] == "audio"
    ]
    pq.write_table(
        pa.table(
            {
                "media_id": pa.array([t[0] for t in res_rows], pa.int64()),
                "in_rate": pa.array([t[1] for t in res_rows], pa.int32()),
                "out_rate": pa.array([t[2] for t in res_rows], pa.int32()),
                "n_in": pa.array([t[3] for t in res_rows], pa.int64()),
                "n_out": pa.array([t[4] for t in res_rows], pa.int64()),
                "mean_abs": pa.array([t[5] for t in res_rows], pa.float64()),
                "checksum": pa.array([t[6] for t in res_rows], pa.int64()),
            }
        ),
        paths["audio_resample_ref"],
    )

    from emails_to_vector_db_spark.sources.multimodal import (
        dhash64,
        synthetic_dhash_image_rows,
    )

    dhash_rows = synthetic_dhash_image_rows()
    pq.write_table(
        pa.table(
            {
                "media_id": pa.array(
                    [r[0] for r in dhash_rows], pa.int64()
                ),
                "payload": pa.array(
                    [r[1] for r in dhash_rows], pa.binary()
                ),
            }
        ),
        paths["images_dhash_raw"],
    )
    pq.write_table(
        pa.table(
            {
                "media_id": pa.array(
                    [r[0] for r in dhash_rows], pa.int64()
                ),
                "dhash": pa.array(
                    [dhash64(r[1]) for r in dhash_rows], pa.int64()
                ),
            }
        ),
        paths["image_dhash_ref"],
    )

    # BPE reference: the SEQUENTIAL Sennrich-style trainer + segmenter
    # (operators/bpe.py driver path — plain Counter/list loops, no
    # Spark) over the driver's sf0.01 correctness corpus. The Spark-lane
    # queries (plans/tokenizer.py) re-derive both results with
    # per-iteration DataFrame aggregations and native array folds — a
    # genuine differential, same merge table, disjoint execution code.
    from collections import Counter

    from emails_to_vector_db_spark.operators.bpe import (
        learn_bpe_merges_driver,
        pretokenize_words,
        segment_word,
    )

    docs = pq.read_table(
        os.path.join(ORACLE_SF_DIR, "documents.parquet"),
        columns=["doc_id", "text"],
    ).to_pydict()
    hist = Counter(
        w for t in docs["text"] for w in pretokenize_words(t)
    )
    merges = learn_bpe_merges_driver(sorted(hist.items()), FIXTURE_BPE_MERGES)
    pq.write_table(
        pa.table(
            {
                "merge_rank": pa.array([m[0] for m in merges], pa.int64()),
                "left_sym": [m[1] for m in merges],
                "right_sym": [m[2] for m in merges],
                "pair_count": pa.array([m[3] for m in merges], pa.int64()),
            }
        ),
        paths["bpe_merges_ref"],
    )
    pairs = [(m[1], m[2]) for m in merges]
    seg_rows = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        words = pretokenize_words(text)
        segs = [segment_word(w, pairs) for w in words]
        seg_rows.append(
            (
                int(doc_id),
                len(words),
                sum(len(s) for s in segs),
                max((len(s) for s in segs), default=0),
            )
        )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in seg_rows], pa.int64()),
                "n_words": pa.array([r[1] for r in seg_rows], pa.int64()),
                "n_tokens": pa.array([r[2] for r in seg_rows], pa.int64()),
                "max_word_tokens": pa.array(
                    [r[3] for r in seg_rows], pa.int64()
                ),
            }
        ),
        paths["bpe_segment_ref"],
    )
