"""Report sectionization (F3 regex-table compiler + F4 sectionizer).

The reference split each report into named sections with per-health-authority
regexes loaded from the ``section_regex`` config table (compiled once on the
driver, reference dx_group.py:177-183) and applied row-wise via an opaque
``create_sections`` returning a dict that pandas expanded to columns
(dx_group.py:185-189). Distributed redesign (SURVEY.md §1.4, §7.4.2):

- F3: collect the *tiny* config table once, keep per-authority variant
  lists per section — broadcast implicitly via the query plan (patterns
  are literals inside expressions; extraction coalesces across variants).
- F4: one ``regexp_extract`` per section plus the two derived columns,
  rendered as SQL text (``_section_exprs``) and projected in one
  ``selectExpr`` next to the input columns — never pandas-style positional
  alignment, which has no deterministic meaning on a distributed table.
  ``create_sections`` wraps the same text in one ``named_struct``.

Patterns use the Java/RE2-common subset (no lookaround, no backrefs) so the
same pattern string behaves identically in Spark, DuckDB (oracle), and
Python ``re`` (SURVEY.md §7.4.3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataengineer_spark.tuning import sql_literal

#: section fields in output order (reference dx_group.py:163-164)
SECTION_NAMES = ["gross", "addendum", "diagnosis", "diagnosis_comment", "micro"]

#: default clinical-report header patterns, group 1 = section body
DEFAULT_PATTERNS: dict[str, str] = {
    "gross": r"(?i)gross(?: description)?\s*:\s*([^\n]*)",
    "addendum": r"(?i)addendum\s*:\s*([^\n]*)",
    "diagnosis": r"(?i)diagnosis\s*:\s*([^\n]*)",
    "diagnosis_comment": r"(?i)(?:diagnosis )?comment\s*:\s*([^\n]*)",
    "micro": r"(?i)micro(?:scopic)?(?: description)?\s*:\s*([^\n]*)",
}

#: a never-matching pattern WITH a group 1, for a section missing from the
#: pattern table: the section is '' (NULL for a NULL report); a groupless
#: pattern makes regexp_extract raise at run time
_NO_SECTION = "($^)"

#: authority columns of the section_regex config table (dx_group.py:176-182)
AUTHORITY_COLUMNS = ["nha", "fha", "fha2", "iha", "vcha1", "vcha2"]


def compile_section_regex(section_df: DataFrame) -> dict[str, str | list[str]]:
    """F3: config table → pattern variant(s) per section.

    ``section_df`` has one row per section (``parent_category``) with one
    pattern variant per authority column. Multi-variant sections keep the
    variant *list* (tried in authority order by ``create_sections``) rather
    than a merged ``(?:A(x))|(?:B(y))`` alternation — merging renumbers the
    capture groups, so group-1 extraction silently returns '' for any report
    matching a non-first authority format. The table is config-sized
    (rows = sections), so a driver collect is correct at any data scale.
    """
    rows = section_df.collect()
    compiled: dict[str, str | list[str]] = {}
    for row in rows:
        variants = [
            row[c] for c in AUTHORITY_COLUMNS if c in row.__fields__ and row[c]
        ]
        if not variants:
            continue
        section = row["parent_category"]
        compiled[section] = variants[0] if len(variants) == 1 else variants
    return compiled


def _extract_section_s(msg: str, pattern: str | list[str]) -> str:
    """Group-1 extraction over one pattern or a variant list (first
    variant that extracts a non-empty body wins), as SQL text."""
    variants = [pattern] if isinstance(pattern, str) else list(pattern)
    *firsts, last = [f"regexp_extract({msg}, {sql_literal(v)}, 1)" for v in variants]
    if not firsts:
        return last
    return "coalesce(" + ", ".join([f"nullif({e}, '')" for e in firsts] + [last]) + ")"


def _section_exprs(
    msg: str, patterns: dict[str, str | list[str]] | None = None
) -> dict[str, str]:
    """F4 as SQL text over the fragment ``msg``: output name → expression,
    in ``SECTION_NAMES`` order then ``filtered_message``, ``part_of_report``.

    Semantics (contract defined by the engine; the reference body is
    absent, SURVEY.md F4):

    - each section = first regex match's group 1, '' if no match
    - ``part_of_report``: 'diag_or_add' when diagnosis/addendum matched,
      else 'gross_or_micro' when gross/micro matched, else 'entire report'
      (domain seen at reference dx_group.py:52-58)
    - ``filtered_message``: concatenation of matched sections when any
      matched, else the whole message.
    """
    pats = patterns or DEFAULT_PATTERNS
    out = {
        name: _extract_section_s(msg, pats.get(name, _NO_SECTION))
        for name in SECTION_NAMES
    }
    has = {name: f"{out[name]} != ''" for name in SECTION_NAMES}
    # skip EMPTY slots, not just NULLs (concat_ws only skips NULLs): a
    # report matching two non-adjacent sections must join them with one
    # space, not carry an interior run of separators
    joined = (
        f"array_join(filter(array({', '.join(out.values())}), s -> s != ''), ' ')"
    )
    out["filtered_message"] = (
        f"CASE WHEN {' OR '.join(has.values())} THEN trim({joined}) ELSE {msg} END"
    )
    out["part_of_report"] = (
        f"CASE WHEN {has['diagnosis']} OR {has['addendum']} THEN 'diag_or_add' "
        f"WHEN {has['gross']} OR {has['micro']} THEN 'gross_or_micro' "
        "ELSE 'entire report' END"
    )
    return out


def create_sections(
    msg: str, patterns: dict[str, str | list[str]] | None = None
) -> Column:
    """F4: one report (a column name or SQL fragment) → struct of named
    sections: ``struct<gross, addendum, diagnosis, diagnosis_comment,
    micro, filtered_message, part_of_report>`` (see ``_section_exprs``)."""
    fields = ", ".join(
        f"{sql_literal(name)}, {expr}" for name, expr in _section_exprs(msg, patterns).items()
    )
    return F.expr(f"named_struct({fields})")


def sectionize(
    df: DataFrame,
    msg_col: str = "msg",
    patterns: dict[str, str | list[str]] | None = None,
    keep: list[str] | None = None,
) -> DataFrame:
    """Apply F4 as top-level columns after ``keep`` (default: every input
    column) (P9).

    One ``selectExpr`` computes every section next to the input columns —
    the distributed-safe replacement for the reference's index-aligned
    horizontal concat (dx_group.py:189).

    Raises when the input already carries a section output column (e.g.
    re-sectionizing sectionized output): the expansion would otherwise
    produce duplicate column names that fail on first reference/write.
    """
    base_names = keep if keep is not None else df.columns
    outputs = set(SECTION_NAMES) | {"filtered_message", "part_of_report"}
    clash = outputs & set(base_names)
    if clash:
        raise ValueError(
            f"sectionize: input columns {sorted(clash)} collide with the "
            "section output columns — drop or rename them (or pass keep=)"
        )
    return df.selectExpr(
        *[f"`{c}`" for c in base_names],
        *[f"{expr} AS {name}" for name, expr in _section_exprs(f"`{msg_col}`", patterns).items()],
    )
