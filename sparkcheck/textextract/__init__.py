from sparkcheck.textextract.extract import (
    EXTRACTOR_VERSION,
    extract_text_col,
    extract_text_py,
    extraction_mismatch_rows,
)

__all__ = [
    "EXTRACTOR_VERSION",
    "extract_text_col",
    "extract_text_py",
    "extraction_mismatch_rows",
]
