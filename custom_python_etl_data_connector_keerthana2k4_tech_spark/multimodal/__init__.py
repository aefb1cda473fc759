"""Multimodal column support (north-star ops, SURVEY §2.3)."""

from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal.ops import (
    ASSET_SCHEMA,
    FEATURE_DIM,
    assets_from_documents,
    decode_assets,
    extract_features,
    sample_frames,
)

__all__ = [
    "ASSET_SCHEMA",
    "FEATURE_DIM",
    "assets_from_documents",
    "decode_assets",
    "extract_features",
    "sample_frames",
]
from custom_python_etl_data_connector_keerthana2k4_tech_spark.multimodal.ops import (  # noqa: E402,F401
    ahash_assets,
    phash_neardup_pairs,
)
