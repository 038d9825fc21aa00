"""Corpus-curation pipeline — the LLM-training-data composition.

The DX-Group pipeline (plans/dx_group.py) is the reference's clinical
shape; this is the same engine pointed at dataset assembly: score → filter
→ dedup → split → count, each stage an operator from the library
(SURVEY.md §2.9). The whole plan is lazy; stages before dedup are
map-only, dedup is the single shuffle, the split adds none.

Stage contract (all deterministic, so the pipeline is oracle-checkable):

1. quality scoring (`textops.quality_score`) and language-ID
   (`textops.language_id`) — JVM expressions, no shuffle
2. keep docs above a quality floor in the wanted languages
3. exact content dedup (`dedup.content_dedup`): normalized-text hash
   groups, keep the lowest id — one shuffle on an 8-byte key
4. leakage-safe hash split (`preparation.train_test_split`)
5. token counting (`textops.token_count`) for budget accounting

A near-dup removal stage (MinHash pairs → anti-join the higher id of
each pair) can be inserted after (3); it is kept out of the default
composition because LSH banding is not SQL-expressible and would demote
the whole pipeline to a rows-only check (SURVEY.md §5.2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataengineer_spark.operators import textops
from dataengineer_spark.operators.dedup import content_dedup
from dataengineer_spark.operators.preparation import train_test_split


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en",),
    split_salt: int = 0,
) -> DataFrame:
    """documents → curated training corpus (see module docstring)."""
    scored = docs.withColumns(
        {
            "quality": textops.quality_score(F.col(text_col)),
            "detected_lang": textops.language_id(F.col(text_col)),
        }
    )
    # dedup BEFORE the score filter: scores are pure functions of text, so
    # every copy in a content group passes or fails together — the result
    # is identical either way, but this order lets the dedup window
    # materialize the scored columns once; filtering first would inline
    # the whole scoring chain into the Filter AND the Project (2× CPU on
    # every doc)
    deduped = content_dedup(scored, text_col, id_col)
    kept = deduped.where(
        (F.col("quality") >= min_quality) & F.col("detected_lang").isin(*langs)
    )
    split = train_test_split(kept, id_col, salt=split_salt)
    return split.select(
        id_col,
        "detected_lang",
        F.round("quality", 6).alias("quality"),
        "split",
        textops.token_count(F.col(text_col)).cast("bigint").alias("n_tokens"),
    )
