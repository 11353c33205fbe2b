from .text import (  # noqa: F401
    ANALYZERS,
    ENGLISH_STOP_WORDS,
    MAX_TOKEN_LENGTH,
    html_strip_series,
    tokenize_series,
    analyze_series,
    analyze_one,
    analyze_many,
)
from .stem import porter_stem, english_filter_terms  # noqa: F401
