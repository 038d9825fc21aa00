"""Message cleaning (F1/F2).

The reference applied an opaque row-wise ``clean_msg`` over raw HL7 report
text (imported at reference dx_group.py:21-25, applied at dx_group.py:118)
and a ``basic_reg`` variant (mvp_pipe.py:32). Their bodies are absent from
the repo, so the engine defines the cleaning contract explicitly — typical
HL7/clinical-text normalization — as a chain of native ``regexp_replace``
expressions: JVM-side, vectorized, no Python in the hot path, and filters
written after it still push down past the projection.  ``clean_msg`` is
built as SQL text (``_clean_msg_s``), so a stage that uses it parses one
expression instead of making a py4j round trip per ``F.*`` call.

Regex parity note (SURVEY.md §7.4.3): patterns are Java-regex; they avoid
constructs whose semantics differ from Python ``re`` and are unit-tested
against fixture strings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from dataengineer_spark.tuning import sql_literal

# HL7 segment markers look like "OBX|1|TX|..." — strip the pipe-delimited
# prefixes; also normalize escape sequences HL7 uses for line breaks.
# Literal \r (raw HL7 is CR-delimited) normalizes with the escapes.
_HL7_SEGMENT_PREFIX = r"(?m)^[A-Z0-9]{3}\|[^|]*\|"
_HL7_BREAKS = r"\\\.br\\\.?|~|\\X0D\\|\\X0A\\|\r\n?"
_CONTROL_CHARS = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
_MULTI_WS = r"[ \t]+"
_MULTI_NL = r"\n{2,}"


def _clean_msg_s(text: str) -> str:
    """SQL text of ``clean_msg`` over the SQL fragment ``text``."""
    s = text
    # breaks FIRST: a segment delimited by '~'/'\X0D\' escapes isn't at
    # line start until the break normalizes, so the (?m)^ prefix strip
    # would miss every segment after the first.  Then trim ALL whitespace
    # (trim() strips spaces only — a newline-ending report would survive
    # it); \v/\f can't occur there (replaced before), so Java, RE2, and
    # Python `\s` agree on this character set
    for pattern, repl in (
        (_HL7_BREAKS, "\n"),
        (_HL7_SEGMENT_PREFIX, ""),
        (_CONTROL_CHARS, " "),
        (_MULTI_WS, " "),
        (_MULTI_NL, "\n"),
        (r"^\s+|\s+$", ""),
    ):
        s = f"regexp_replace({s}, {sql_literal(pattern)}, {sql_literal(repl)})"
    return s


def clean_msg(text: str) -> Column:
    """Normalize raw report text (F1); ``text`` is a column name or any
    SQL fragment.

    Contract: drop HL7 segment prefixes and escape sequences, drop control
    characters, collapse runs of spaces/tabs to one space, collapse blank
    lines, trim. NULL in → NULL out; '' in → '' out.
    """
    return F.expr(_clean_msg_s(text))


# Literal accent-fold table (Latin-1/Latin-Extended common cases): the
# SAME from/to strings feed Spark's and the SQL oracle's translate(), so
# normalization is engine-portable without relying on ICU/NFKC (whose
# availability and tailoring differ per engine).
ACCENT_FROM = "àáâãäåèéêëìíîïòóôõöùúûüýÿñçšž"
ACCENT_TO = "aaaaaaeeeeiiiiooooouuuuyyncsz"


def normalize_text(col: Column | str) -> Column:
    """Corpus-prep canonical form (training-data normalization stage):

    lowercase → fold accented Latin letters to ASCII via a LITERAL
    translate table → strip control characters → collapse ALL whitespace
    runs to one space → trim.  A pure map-side expression chain
    (whole-stage codegen, no Python); used before exact/near dedup so
    trivially-different encodings of the same text hash identically.
    NULL in → NULL out.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.translate(c, ACCENT_FROM, ACCENT_TO)
    c = F.regexp_replace(c, _CONTROL_CHARS, " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def basic_reg(col: Column | str) -> Column:
    """Light cleaning (F2, reference mvp_pipe.py:32): keep word chars and

    basic punctuation, collapse whitespace, lowercase.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"[^\w\s.,;:()\-/%]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.lower(F.trim(c))
