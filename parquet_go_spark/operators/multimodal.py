"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video decode libraries are not available, so no media is
decoded: the operator reports only what the payload bytes themselves
prove (size and sha256), computed by JVM built-ins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def media_metadata(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Pure-JVM metadata (no Python): size + sha256 of the binary payload."""
    return df.select(
        F.col(id_col).alias("media_id"),
        F.octet_length(F.col(payload_col)).alias("n_bytes"),
        F.sha2(F.col(payload_col), 256).alias("digest"),
    )
