"""Text normalization functions (reference P2/P3).

Semantics from ``tracker_exporter/utils/helpers.py:102-117`` (snake_case)
and ``:247-258`` (emoji strip), validated by the reference's own test
vectors (``tests/test_helpers.py:138-166,235-243``).

The reference uses Python lookaround regexes; these are re-expressed as
capture-group substitutions, which are equivalent here because each
boundary rule's two character classes are disjoint (no overlapping
matches possible) — and capture groups also run on RE2-based engines
(DuckDB oracle parity).

Both kernels are SQL text parsed by one ``F.expr``, like the datetime
kernels; their Column-API references live in ``tests/test_functions.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from yandex_tracker_exporter_spark.functions.datetimes import sql_string

# Boundary rules, applied in order, then lowercased:
#   lower-letter→UPPER-letter, lower-letter→digit, digit→lower-letter
# get an underscore inserted; any remaining non-word char becomes '_'.
_LOWER = "a-zа-яё"
_UPPER = "A-ZА-ЯЁ"
SNAKE_RULES: tuple[tuple[str, str], ...] = (
    (f"([{_LOWER}])([{_UPPER}])", "$1_$2"),
    (f"([{_LOWER}])([0-9])", "$1_$2"),
    (f"([0-9])([{_LOWER}])", "$1_$2"),
    (f"[^a-zA-Z{_LOWER}{_UPPER}0-9_]", "_"),
)


def to_snake_case_sql(expr: str) -> str:
    """SQL text of :func:`to_snake_case` over the SQL expression ``expr``."""
    out = expr
    for pattern, replacement in SNAKE_RULES:
        out = f"regexp_replace({out}, {sql_string(pattern)}, {sql_string(replacement)})"
    return f"CASE WHEN trim({expr}) = '' THEN trim({expr}) ELSE lower({out}) END"


def to_snake_case(expr: str) -> Column:
    """camel/Pascal/kebab/space → snake_case; Cyrillic-aware (P2).

    ``expr`` is SQL expression text, e.g. ``"lower(status.name)"``.
    null → null; blank/whitespace-only → empty string (the reference
    returns ``text.strip()`` for blank input, ``helpers.py:108-109``).
    """
    return F.expr(to_snake_case_sql(expr))


#: Emoji codepoint ranges stripped by the reference (``helpers.py:249-258``):
#: emoticons, symbols & pictographs, transport & map, flags.
EMOJI_PATTERN = (
    "["
    "\U0001f600-\U0001f64f"
    "\U0001f300-\U0001f5ff"
    "\U0001f680-\U0001f6ff"
    "\U0001f1e0-\U0001f1ff"
    "]+"
)


def string_normalize_sql(expr: str) -> str:
    """SQL text of :func:`string_normalize` over the SQL expression ``expr``."""
    return f"regexp_replace({expr}, {sql_string(EMOJI_PATTERN)}, '')"


def string_normalize(expr: str) -> Column:
    """Strip emoji ranges from the SQL expression ``expr`` (P3, titles)."""
    return F.expr(string_normalize_sql(expr))


#: Latin-1 / Latin Extended-A accent fold table shared by engine and
#: oracle — an EXPLICIT mapping (not locale/ICU NFKD, which differs
#: across engines) so canonicalization is bit-reproducible anywhere.
ACCENT_SRC = "àáâãäåāçćčèéêëēėęìíîïīįñńòóôõöōøśšùúûüūýÿžźż"
ACCENT_DST = "aaaaaaaccceeeeeeeiiiiiinnooooooossuuuuuyyzzz"


def canonicalize_text(col: Column | str) -> Column:
    """Dedup-grade text canonicalization: lowercase, fold accents via
    the explicit table, collapse all whitespace runs to single spaces,
    and trim. The standard pre-hashing normalization of a cleaning
    pipeline — two near-identical documents differing only in case,
    diacritics, or spacing canonicalize to the same bytes. Map-only.
    """
    c = F.col(col) if isinstance(col, str) else col
    lowered = F.lower(c)
    folded = F.translate(lowered, ACCENT_SRC, ACCENT_DST)
    return F.trim(F.regexp_replace(folded, r"\s+", " "))
