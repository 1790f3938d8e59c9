from .text import (
    TITLE_KEYWORDS,
    convert_name,
    convert_name_oracle_query,
    generate_uri,
    generate_uri_oracle_sql,
    normalize_term,
    strip_parenthetical,
)
from .vectors import cosine_similarity, dot, l2_norm

__all__ = [
    "TITLE_KEYWORDS",
    "convert_name",
    "convert_name_oracle_query",
    "generate_uri",
    "generate_uri_oracle_sql",
    "normalize_term",
    "strip_parenthetical",
    "cosine_similarity",
    "dot",
    "l2_norm",
]
