"""Multimodal columns: image/audio as opaque binary + typed metadata.

The reference has no multimodal surface (its payloads are text lines,
SURVEY.md §1.1); this module is the training-data extension: assets
travel as a `binary` column, metadata passes stay JVM-side, and every
decode/transform stage is an Arrow-batched `mapInPandas` over real
container formats — 24-bit BMP, binary PPM/PGM, PCM WAV — decoded by
the dependency-free codecs in `llm.codecs` (no PIL/ffmpeg in this
container, and none needed for these formats).

Every asset gets REAL pixel / sample work; a container outside the
codec set counts as undecodable. Undecodable assets quarantine as
null-feature rows by default (`on_error="null"`) — at 100 TB a
malformed asset must never kill the job — or raise with
`on_error="raise"`.

Schema convention for a multimodal asset column:
    asset: struct<data: binary, mime: string, width: int, height: int>

At 100 TB the binary payloads dominate partition sizing — callers
should repartition by size (`spark.sql.files.maxPartitionBytes` for
scans; explicit repartition before heavy decode) so one Arrow batch of
assets fits executor memory.
"""

from __future__ import annotations

from collections.abc import Iterator
from struct import error as struct_error

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from crane_spark.llm import codecs
from crane_spark.llm.codecs import DecodedImage

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("data", T.BinaryType()),
        T.StructField("mime", T.StringType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("checksum", T.StringType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def _real_feature(data: bytes) -> list[float] | None:
    """Decode and featurize one asset; None for undecodable input.

    Feature layout (first element discriminates the modality):
      image: [0, width, height, channels, mean/255, std/255]
      audio: [1, n_frames, sample_rate, channels, rms, mean]
    """
    try:
        dec = codecs.decode_asset(data)
    except (ValueError, struct_error):
        return None
    if isinstance(dec, DecodedImage):
        px = dec.pixels.astype(np.float64) / 255.0
        return [
            0.0,
            float(dec.width),
            float(dec.height),
            float(dec.channels),
            float(px.mean()),
            float(px.std()),
        ]
    s = dec.samples
    return [
        1.0,
        float(dec.n_frames),
        float(dec.sample_rate),
        float(dec.channels),
        float(np.sqrt((s * s).mean())) if s.size else 0.0,
        float(s.mean()) if s.size else 0.0,
    ]


def extract_features(assets: DataFrame, on_error: str = "null") -> DataFrame:
    """Decode + featurize binary assets via Arrow-batched mapInPandas.

    BMP/PPM/PGM pixels and WAV samples are decoded by `llm.codecs` and
    summarized into a modality-tagged feature vector (see
    `_real_feature`). Undecodable bytes produce a
    null-feature row (`on_error="null"`, the quarantine-not-crash
    behavior a 100 TB scan needs) or raise (`on_error="raise"`).

    The UDF sees pandas batches (whole Arrow record batches, not rows);
    this is the pattern for any per-asset Python/native codec at scale.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        def feat(d):
            f = _real_feature(d or b"")
            if f is None and on_error == "raise":
                raise ValueError("undecodable asset (and on_error='raise')")
            return f

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "mime": pdf["mime"],
                    "n_bytes": pdf["data"].map(lambda d: len(d) if d is not None else 0),
                    "checksum": pdf["data"].map(
                        lambda d: hashlib.md5(d or b"").hexdigest()
                    ),
                    "feature": pdf["data"].map(feat),
                }
            )

    return assets.mapInPandas(run, schema=FEATURE_SCHEMA)
