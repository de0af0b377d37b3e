from .text import extract_text_bytes, extract_text_col, extract_text_udf
from .fingerprint import cdc_fingerprints, cdc_fingerprints_udf
from .lcs import longest_common_substring_len

__all__ = [
    "extract_text_bytes",
    "extract_text_col",
    "extract_text_udf",
    "cdc_fingerprints",
    "cdc_fingerprints_udf",
    "longest_common_substring_len",
]
