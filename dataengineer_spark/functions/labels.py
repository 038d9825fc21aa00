"""Label parsing + audit strings (F7/F8).

F7: the classifier emits labels like ``LABEL_7``; the reference parsed the
numeric suffix with ``x.split('_')[1]`` (reference dx_group.py:259), which
throws on a label with no underscore. Engine behavior is defined instead:
no separator → NULL (FIXTURES.md §B edge cases).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _split_label_s(label: str, as_long: bool = True) -> str:
    """SQL text of ``split_label`` over the SQL fragment ``label``."""
    suffix = f"get(split({label}, '_'), 1)"
    return f"try_cast({suffix} AS BIGINT)" if as_long else suffix


def split_label(label: str, as_long: bool = True) -> Column:
    """``LABEL_7`` → 7 (bigint) / ``'7'``; no ``'_'`` → NULL.  ``label`` is
    a column name or SQL fragment.

    ANSI-safe: ``get`` returns NULL out-of-bounds and ``try_cast`` returns
    NULL for a non-numeric suffix instead of failing the job — a single
    malformed label must not kill a 100 TB run.
    """
    return F.expr(_split_label_s(label, as_long))


def audit_comment_expr(params: dict[str, str]) -> Column:
    """F8 audit-string construction (reference dx_group.py:95)."""
    return F.lit(f"Pipeline ran with parameters : {params}")
