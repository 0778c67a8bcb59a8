from qalsh_spark.functions.signatures import extract_text_udf, sign_documents
from qalsh_spark.functions.text import (
    language_id,
    quality_features,
    token_count_col,
)

__all__ = [
    "extract_text_udf",
    "sign_documents",
    "language_id",
    "quality_features",
    "token_count_col",
]
