from navigator_data_ingest_spark.functions.text import (
    slugify_col,
    valid_http_url,
    watermark_text_col,
)
from navigator_data_ingest_spark.functions.content import (
    detect_content_type,
    upload_file_name,
    trimmed_name_col,
)

__all__ = [
    "slugify_col",
    "valid_http_url",
    "watermark_text_col",
    "detect_content_type",
    "upload_file_name",
    "trimmed_name_col",
]
