from htmlentityextraction_spark.operators.relational import (
    dedup_keep_latest,
    top_k,
)

__all__ = ["dedup_keep_latest", "top_k"]
