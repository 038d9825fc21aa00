"""Token-aware truncation (F5/M3).

The reference truncated each report to the classifier's 512-token window:
if over 510 tokens, keep the *last* 510 for 'entire report' (diagnosis
usually ends a report) or the *first* 510 otherwise, using the tokenizer's
offset mapping to cut on token boundaries (reference dx_group.py:49-61;
API variant also returns the cut offset,
diagnostic_group_pipeline_with_api.py:49-69).

**Deliberate divergence from the reference (keep it — do not "fix" back):**
the reference's literal indexing counts SPECIAL tokens in ``len(encoding)``
and cuts at ``offsets[len(encoding)-510][1]`` (tail: the *end* of the
boundary token, keeping 509 content tokens) / ``offsets[510][1]`` (head:
keeping 511 content tokens counting from [CLS]) — an off-by-one on both
sides of its own "510 tokens" comment (dx_group.py:51-59).  This engine
normalizes to the documented intent, an **exact-510 content-token
window**: special/zero-width offsets are filtered out, the tail cut is the
*start* of the first kept token (``offs[len-510][0]``) and the head cut is
the *end* of the 510th (``offs[509][1]``).  A future parity audit that
re-introduces the reference's 509/511 indexing will trip the
boundary-pinned tests in tests/test_functions.py.

Two forms (SURVEY.md §7.4.4):

- ``truncate_text_chars``: character-budget approximation as one native
  SQL expression — deterministic, SQL-expressible, oracle-checked.
- ``truncate_text_tokens``: exact token semantics in an Arrow-batched
  pandas UDF.  The tokenizer is named by a SCHEME string resolved on the
  executor (the same trick as ml.inference's ``probe:``/``numpy:`` model
  schemes, which keeps the full Arrow lifecycle testable without torch):

  - ``"hf"`` (default): HuggingFace bert-base-uncased fast tokenizer when
    importable; regex word offsets otherwise.
  - ``"fake-offsets"``: a dependency-free stand-in implementing the fast
    tokenizer's ``return_offsets_mapping`` contract — fixed-width subword
    chunks plus zero-width special-token entries that the ``o[1] > o[0]``
    filter must drop.  Exercises the HF branch of ``_offsets`` (dict
    indexing, zero-width filtering) unconditionally in any sandbox.
  - ``"words"``: the regex word tokenizer, explicitly.

  The tokenizer loads once per executor process per scheme, not per row.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

TOKEN_LIMIT = 510  # reference dx_group.py:51 — 512 minus [CLS]/[SEP]


def _truncate_text_chars_s(text: str, part_of_report: str, budget: int = 2000) -> str:
    """SQL text of ``truncate_text_chars`` over two SQL fragments."""
    return (
        f"CASE WHEN length({text}) <= {budget} THEN {text} "
        f"WHEN {part_of_report} = 'entire report' "
        f"THEN substring({text}, {-budget}, {budget}) "
        f"ELSE substring({text}, 1, {budget}) END"
    )


def truncate_text_chars(text: str, part_of_report: str, budget: int = 2000) -> Column:
    """Character-budget truncation (oracle form) over two column names or
    SQL fragments.

    Keeps the last ``budget`` chars for 'entire report', else the first
    ``budget`` chars; under-budget text passes through unchanged.
    """
    return F.expr(_truncate_text_chars_s(text, part_of_report, budget))


# -- exact token form (pandas UDF) -----------------------------------------

_WORD_RE = re.compile(r"\S+")
#: per-executor tokenizer cache, keyed by scheme (loads once per worker
#: process per scheme — the same contract ml.inference asserts for models)
_TOKENIZERS: dict[str, object] = {}


class FakeOffsetsTokenizer:
    """Dependency-free stand-in for a HF *fast* tokenizer's offsets API.

    Splits text into fixed-width ``chunk``-char subword-ish tokens and
    returns ``{"offset_mapping": [(start, end), ...]}`` — the exact shape
    ``_offsets`` consumes from ``AutoTokenizer(..., use_fast=True)``.
    Zero-width entries (a leading ``(0, 0)`` like [CLS] and a trailing
    ``(n, n)`` like [SEP]) are included so the caller's ``o[1] > o[0]``
    special-token filter is exercised, not just tolerated.  Deterministic
    and picklable, so the executor-side scheme resolution can construct it
    without any wheel being present.
    """

    def __init__(self, chunk: int = 4):
        self.chunk = chunk

    def __call__(self, text, return_offsets_mapping=True,
                 add_special_tokens=False, **_kw):
        n = len(text)
        offs = [(0, 0)]
        offs += [(i, min(i + self.chunk, n)) for i in range(0, n, self.chunk)]
        offs.append((n, n))
        return {"offset_mapping": offs}


def _load_tokenizer(scheme: str = "hf"):
    """Resolve a tokenizer scheme on this process; None → regex fallback."""
    if scheme in _TOKENIZERS:
        return _TOKENIZERS[scheme] or None
    tok: object = False
    if scheme == "fake-offsets":
        tok = FakeOffsetsTokenizer()
    elif scheme == "words":
        tok = False  # explicit regex fallback
    elif scheme == "hf":
        try:  # optional dependency; absent in this container
            from transformers import AutoTokenizer  # type: ignore

            tok = AutoTokenizer.from_pretrained(
                "bert-base-uncased", use_fast=True
            )
        except Exception:
            tok = False
    else:
        raise ValueError(
            f"truncate: unknown tokenizer scheme {scheme!r} "
            "(expected 'hf', 'fake-offsets', or 'words')"
        )
    _TOKENIZERS[scheme] = tok
    return tok or None


def _offsets(text: str, scheme: str = "hf") -> list[tuple[int, int]]:
    tok = _load_tokenizer(scheme)
    if tok is not None:
        enc = tok(text, return_offsets_mapping=True, add_special_tokens=False)
        return [o for o in enc["offset_mapping"] if o[1] > o[0]]
    return [(m.start(), m.end()) for m in _WORD_RE.finditer(text)]


def _truncate_one(
    text: str | None, part: str | None, limit: int, scheme: str = "hf"
) -> tuple[str | None, int]:
    if text is None:
        return None, 0
    offs = _offsets(text, scheme)
    if len(offs) <= limit:
        return text, 0
    if part == "entire report":
        # keep last `limit` tokens exactly: cut at the START of the first
        # kept token (reference dx_group.py:52-55 uses `[1]` and keeps
        # 509 — see the module docstring's divergence note)
        cut = offs[len(offs) - limit][0]
        return text[cut:], cut
    # 'gross_or_micro' / 'diag_or_add': keep first `limit` tokens exactly:
    # cut at the END of the limit-th token (reference dx_group.py:56-60
    # indexes offsets[510] over a specials-included list and keeps 511)
    cut = offs[limit - 1][1]
    return text[:cut], cut


_TRUNCATE_SCHEMA = T.StructType(
    [
        T.StructField("filtered_message", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)


def _make_truncate_udf(scheme: str, limit: int):
    """Arrow-batched iterator UDF closed over the tokenizer scheme — the
    scheme string (not the tokenizer object) ships to executors, and each
    worker resolves it once via the per-process cache."""

    @F.pandas_udf(_TRUNCATE_SCHEMA)
    def _truncate_udf(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            texts, parts = pdf.iloc[:, 0], pdf.iloc[:, 1]
            out = [
                _truncate_one(t, p, limit, scheme)
                for t, p in zip(texts, parts)
            ]
            yield pd.DataFrame(
                {
                    "filtered_message": [o[0] for o in out],
                    "offset": [o[1] for o in out],
                }
            )

    return _truncate_udf


def truncate_text_tokens(
    text: Column | str,
    part_of_report: Column | str,
    tokenizer: str = "hf",
    limit: int = TOKEN_LIMIT,
) -> Column:
    """Exact token-boundary truncation → struct<filtered_message, offset>.

    The API variant's 2-column result shape (reference
    diagnostic_group_pipeline_with_api.py:287-293) — expand with
    ``select("*", "t.*")``.  ``tokenizer`` is a scheme string (see module
    docstring); ``"fake-offsets"`` runs the offsets-mapping branch without
    any optional dependency.
    """
    t = F.col(text) if isinstance(text, str) else text
    p = F.col(part_of_report) if isinstance(part_of_report, str) else part_of_report
    return _make_truncate_udf(tokenizer, limit)(F.struct(t, p))
