from .cleaning import (  # noqa: F401
    clean_md_aggressive,
    clean_md_basic,
    clean_md_multiline,
    clean_unicode_escapes,
    strip_numbering,
)
from .parsing import fallback_line_parse, parse_translations  # noqa: F401
from .predicates import is_suspicious, is_truncated  # noqa: F401
from .repair import gated_repair, repair_json_udf  # noqa: F401
from .text import (  # noqa: F401
    doc_fingerprint,
    lang_id,
    quality_score,
    script_of,
    token_count,
    word_shingles,
)
from .timeutil import format_unix_ts  # noqa: F401
