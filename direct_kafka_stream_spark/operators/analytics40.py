"""Round-9 engine machinery: the real-bytes multimodal codec path as a
driver-verifiable registry exhibit.

Rounds 8-9 closed all three modality pipelines on REAL encoded bytes
(PPM/BMP images in ``functions/raster.py``, PCM-16 WAV audio in
``functions/wav.py``, uncompressed-DIB AVI video in
``functions/avi.py``), but that evidence lived only in pytest.
``q_multimodal_codec`` puts the full encode → container bytes →
sniff/decode → feature pipeline for ALL THREE modalities under the
DuckDB hash gate: media derived deterministically from ``doc_id`` has
CLOSED-FORM features (constant/gradient rasters, constant-amplitude
PCM, per-frame constant video), so the oracle recomputes them with
pure arithmetic while the Spark side genuinely routes every byte
through the container codecs — any header, stride, padding, or
dispatch bug breaks the hash match.

Reference anchor: EXT multimodal surface per SURVEY.md §2.D (the
reference's processing hook is KafkaDirectStream.scala:43-51; it has
no media path — this is mandated extension surface).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, functions as F

from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.registry import query

# ---------------------------------------------------------------------------
# q_multimodal_codec — all three real-bytes codec pipelines, hash-gated
# ---------------------------------------------------------------------------

_MOD = 13  # doc sampling stride: bounds the media build at any sf


@query(
    "q_multimodal_codec",
    oracle=f"""
    SELECT doc_id,
           CAST(doc_id % 200 + 3.0 AS DOUBLE) AS img_lum,
           CAST(doc_id % 200 + 1.0 AS DOUBLE) AS wav_rms,
           CAST(doc_id % 200 AS DOUBLE)       AS f0_lum,
           CAST(doc_id % 200 + 1.0 AS DOUBLE) AS f1_lum
    FROM documents WHERE doc_id % {_MOD} = 0
    """,
    tags=("llm", "multimodal", "engine"),
)
def q_multimodal_codec(spark: SparkSession, d: str):
    """End-to-end real-bytes codec audit across all three modalities.

    For every sampled doc (``doc_id % 13 = 0``; base value
    ``b = doc_id % 200`` keeps every pixel/sample in uint8/int16 range):

    - IMAGE: a 4x4 RGB gradient ``pixel(y, x) = b + x + y`` is encoded
      as binary netpbm P6 and decoded back through ``image_features``'s
      sniffer path — mean luminance is exactly ``b + 3.0`` (the x+y
      grid averages 3.0; the /16 is a power of two, so float64-exact).
    - AUDIO: 64 mono PCM-16 samples of constant amplitude ``b + 1`` are
      encoded as RIFF/WAVE and windowed by ``audio_windows_wav`` with
      win == hop == 64 — exactly one window whose RMS is ``b + 1``
      (sqrt of a perfect square, correctly rounded → exact).
    - VIDEO: two 4x4 solid frames of value ``b + f`` are encoded as
      uncompressed-DIB AVI and sampled densely by ``frame_sample_avi``
      — frame f's mean luminance is exactly ``b + f``.

    The oracle recomputes those closed forms with arithmetic alone, so
    a hash match proves the byte-level codec round trip (RIFF chunk
    walks, BMP-style row padding, JVM substring offsets), not just the
    feature math. No injected decoders anywhere — dispatch is by
    container sniffing, the production path.

    At 100 TB: the media build is one Arrow pass over a filtered doc
    list; each modality pipeline is partition-parallel with zero
    shuffle until the three fixed-width feature frames join on doc_id
    (AQE broadcasts them at exhibit scale; at corpus scale all three
    are co-partitioned by the same key)."""
    from direct_kafka_stream_spark.functions import avi as avi_codec
    from direct_kafka_stream_spark.functions import multimodal as mm
    from direct_kafka_stream_spark.functions import raster, wav

    docs = (
        load_table(spark, d, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % _MOD == 0)
    )

    def build_media(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                b = int(doc_id) % 200
                grid = np.arange(4)[:, None] + np.arange(4)[None, :]  # x + y
                img = np.repeat((b + grid)[:, :, None], 3, axis=2).astype(
                    np.uint8
                )
                pcm = np.full(64, b + 1, dtype=np.int16)
                frames = np.stack(
                    [np.full((4, 4, 3), b + f, dtype=np.uint8) for f in range(2)]
                )
                rows.append(
                    (
                        int(doc_id),
                        raster.encode_ppm(img),
                        wav.encode_wav(pcm, 16000),
                        avi_codec.encode_avi(frames, 10),
                    )
                )
            yield pd.DataFrame(rows, columns=["doc_id", "img", "wav", "avi"])

    # three modality pipelines read this frame — persist so the encode
    # pass runs once, not once per branch (bounded: |docs|/13 rows of
    # ~700 B media each); tracked so it is freed when the query's
    # scope closes (caching)
    from direct_kafka_stream_spark.caching import track

    media = track(
        docs.mapInPandas(
            build_media,
            schema="doc_id long, img binary, wav binary, avi binary",
        ).persist()
    )

    img_f = mm.image_features(
        media.select("doc_id", F.col("img").alias("media"))
    ).select("doc_id", F.col("mean_lum").alias("img_lum"))
    wav_f = mm.audio_windows_wav(
        media.select("doc_id", F.col("wav").alias("media")),
        win_frames=64,
        hop_frames=64,
    ).select("doc_id", F.col("rms").alias("wav_rms"))
    avi_f = (
        mm.frame_sample_avi(
            media.select("doc_id", F.col("avi").alias("media")), every_nth=1
        )
        .groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("frame_idx") == 0, F.col("mean_lum"))).alias(
                "f0_lum"
            ),
            F.max(F.when(F.col("frame_idx") == 1, F.col("mean_lum"))).alias(
                "f1_lum"
            ),
        )
    )
    return img_f.join(wav_f, "doc_id").join(avi_f, "doc_id")
