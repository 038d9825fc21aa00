"""Distributed BPE (byte-pair-encoding) vocabulary training.

The tokenizer surface (functions/truncate.py, reference capability M3/F5)
consumes a vocabulary; this trains one FROM the corpus, the way real
subword tokenizers are trained — except the corpus-scale part runs on
Spark.  The decomposition:

- ONE corpus scan builds the word histogram (vocab-sized — this is the
  only data-size-dependent cost at 100 TB), collected to the driver once;
- every merge runs on the driver over that histogram: adjacent-pair
  counts over the CURRENT segmentation, weighted by word frequency, pick
  the best pair — the trainer's usual shape, one driver round trip per
  fit whatever the merge count;
- the chosen merge applies as a sentinel-delimited string replace, an
  operation Python, Spark and DuckDB implement with identical
  left-to-right non-overlapping semantics, so the DuckDB oracle can
  replay every iteration bit-for-bit (unrolled CTE stages, the kmeans
  oracle shape) and :func:`bpe_segment` tokenizes with the same rule.

Token boundaries are DOUBLE sentinels (``␁␁a␁␁b␁␁``) and the merge
pattern ``␁a␁␁b␁`` consumes only the inner halves: a non-overlapping
left-to-right replace then still merges back-to-back occurrences
(``x y x y`` → ``xy xy``), because each match leaves one boundary
sentinel behind for the next — with single sentinels the replace would
eat the shared boundary and skip every other pair.

Ties break deterministically: count desc, then left asc, right asc, by
code point (Spark's UTF8_BINARY string order).
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: token separator inside a segmentation string — a control char that
#: cannot appear in whitespace-split words
SEP = "\x01"

#: most distinct words :func:`bpe_train` merges on the driver
MAX_VOCAB = 200_000


def _segmented_histogram(df: DataFrame, text_col: str) -> DataFrame:
    """(seg, n) — each distinct word's character segmentation as a

    sentinel-delimited string (``␁c₁␁c₂␁…␁``) with its corpus count."""
    from dataengineer_spark.operators.preparation import word_counts

    words = word_counts(df.select(text_col), text_col)
    chars = F.filter(F.split(F.col("word"), ""), lambda c: c != F.lit(""))
    seg = F.concat(F.lit(SEP * 2), F.array_join(chars, SEP * 2), F.lit(SEP * 2))
    return words.select(seg.alias("seg"), F.col("n"))


def bpe_train(
    df: DataFrame, text_col: str, n_merges: int = 8
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus; returns them in

    order.  Spark runs the one corpus scan to the (seg, n) histogram,
    which is collected once; every merge then runs on the driver: count
    the adjacent token pairs of each segmentation weighted by ``n``, take
    the highest count (ties: smaller left, then smaller right token, by
    code point — Spark's UTF8_BINARY order), and apply it with the same
    sentinel replace :func:`bpe_segment` uses.  Nothing is cached.

    ``MAX_VOCAB`` bounds the driver loop, whose cost is O(merges × Σ
    segment length); a histogram with more distinct words raises
    ``ValueError``.  Driver memory for the collect is already guarded by
    ``spark.driver.maxResultSize``."""
    hist = _segmented_histogram(df, text_col).collect()
    if len(hist) > MAX_VOCAB:
        raise ValueError(
            f"bpe_train: {len(hist)} distinct words exceed MAX_VOCAB="
            f"{MAX_VOCAB}; train on a sample of the corpus"
        )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: Counter[tuple[str, str]] = Counter()
        for seg, n in hist:
            toks = [t for t in seg.split(SEP) if t]
            for pair in zip(toks, toks[1:]):
                counts[pair] += n
        if not counts:
            break
        a, b = min(counts, key=lambda p: (-counts[p], p))
        merges.append((a, b))
        old, new = f"{SEP}{a}{SEP}{SEP}{b}{SEP}", f"{SEP}{a}{b}{SEP}"
        hist = [(seg.replace(old, new), n) for seg, n in hist]
    return merges


def bpe_segment(col, merges: list[tuple[str, str]]):
    """Apply a learned merge list to a word column → array of subword

    tokens.  Pure expression chain (one replace per merge — vocabularies
    are training-time-bounded), so tokenization is map-only at any scale.
    """
    chars = F.filter(F.split(col, ""), lambda c: c != F.lit(""))
    seg = F.concat(F.lit(SEP * 2), F.array_join(chars, SEP * 2), F.lit(SEP * 2))
    for a, b in merges:
        seg = F.replace(
            seg,
            F.lit(f"{SEP}{a}{SEP}{SEP}{b}{SEP}"),
            F.lit(f"{SEP}{a}{b}{SEP}"),
        )
    return F.filter(F.split(seg, SEP), lambda t: t != F.lit(""))
