"""Text analysis operators (E4): language-ID, quality scoring, token

counting, document fingerprinting. Natural generalizations of the
reference's clinical-text functions (F1 cleaning / F4 sectionizing) to the
LLM-data-pipeline setting (SURVEY.md §2.9). All native expressions —
the hot path over a 100 TB documents table stays inside codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword marker sets for the n-gram/stopword heuristic;
# enough to separate the testdata's {en,fr,es,de,zh} synthetic docs and the
# usual suspects in web corpora
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "that", "with"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans"],
    "es": ["el", "los", "las", "que", "una", "por", "para"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
}


def trim_ws(text: Column | str) -> Column:
    """Strip ALL leading/trailing whitespace — ``F.trim`` strips spaces

    only, so newline/tab-padded text would otherwise leak empty tokens
    into every split-based counter."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(c, r"^\s+|\s+$", "")


def token_count(text: Column | str) -> Column:
    """Whitespace token count; 0 for empty/NULL-safe callers handle null."""
    t = trim_ws(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def subword_count(text: Column | str) -> Column:
    """BPE-ish subword proxy: count word-piece shaped units — runs of

    letters (split every 4 chars counts as multiple units), digits, or a
    single punctuation mark. A deterministic stand-in for a real tokenizer's
    token count, usable as a cost estimate at scan time.
    """
    c = F.col(text) if isinstance(text, str) else text
    # ceil(letters/4) per word approximates subword splits + count of
    # standalone digit runs and punctuation marks
    words = F.split(trim_ws(c), r"\s+")
    per_word = F.transform(
        words, lambda w: F.ceil(F.length(F.regexp_replace(w, r"[^\p{L}\p{N}]", "")) / 4.0)
        + F.length(F.regexp_replace(w, r"[\p{L}\p{N}\s]", ""))
    )
    return F.aggregate(per_word, F.lit(0).cast("bigint"), lambda acc, v: acc + v)


#: ASCII punctuation (negated class) — identical in Java regex and RE2
PUNCT_NEGATED = r"[^!-/:-@\[-`{-~]"

#: CJK unified-ideograph range — same escape syntax in Java regex and RE2
CJK_PATTERN = r"[\x{4e00}-\x{9fff}]"


def language_id(text: Column | str) -> Column:
    """Heuristic language-ID: argmax of stopword-marker hit counts; 'und'

    (undetermined) when nothing matches. CJK detection precedes the
    stopword vote (stopword lists don't apply to unsegmented scripts).
    Ties resolve to the earliest language in ``_LANG_MARKERS`` order (the
    running-argmax fold uses strict ``>``).
    """
    c = F.col(text) if isinstance(text, str) else text
    # one regex pass extracts every marker hit; per-language scores are
    # then JVM array-membership counts — 4× fewer scans of the text than
    # one regexp_count per language, same counts
    all_markers = sorted({w for ws in _LANG_MARKERS.values() for w in ws})
    hits = F.regexp_extract_all(
        F.lower(c), F.lit(r"\b(?:" + "|".join(all_markers) + r")\b"), 0
    )
    has_cjk = c.rlike(CJK_PATTERN)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang, markers in _LANG_MARKERS.items():
        s = F.size(F.filter(hits, lambda w: w.isin(*markers)))
        better = s > best_score
        best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(better, s).otherwise(best_score)
    return F.when(has_cjk, F.lit("zh")).otherwise(best_lang)


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: length, token count, mean word

    length, punctuation/digit/uppercase ratios, stopword ratio."""
    c = F.col(text_col)
    n = F.length(c)
    toks = token_count(c)
    punct = F.length(F.regexp_replace(c, PUNCT_NEGATED, ""))
    digits = F.length(F.regexp_replace(c, r"[^0-9]", ""))
    upper = F.length(F.regexp_replace(c, r"[^A-Z]", ""))
    stop_hits = F.size(F.split(F.lower(c), r"\b(?:the|and|of|to|a|in|is|it)\b")) - 1
    return df.withColumns(
        {
            "n_chars_m": n,
            "n_tokens": toks,
            "mean_word_len": F.when(toks > 0, n / toks),
            "punct_ratio": F.when(n > 0, punct / n).otherwise(F.lit(0.0)),
            "digit_ratio": F.when(n > 0, digits / n).otherwise(F.lit(0.0)),
            "upper_ratio": F.when(n > 0, upper / n).otherwise(F.lit(0.0)),
            "stopword_ratio": F.when(toks > 0, stop_hits / toks).otherwise(F.lit(0.0)),
        }
    )


def quality_score(text: Column | str) -> Column:
    """Scalar [0,1] quality score: penalize too-short/too-long docs, high

    punctuation/digit density, and stopword-free (unnatural) text.
    NULL text scores NULL — the ``.otherwise`` defaults would otherwise
    hand a missing document ~0.33, ranking it above a real empty one."""
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c)
    toks = token_count(c)
    punct = F.length(F.regexp_replace(c, PUNCT_NEGATED, ""))
    stop_hits = F.size(F.split(F.lower(c), r"\b(?:the|and|of|to|a|in|is|it)\b")) - 1
    len_score = F.when((n >= 100) & (n <= 20000), 1.0).when(n > 0, 0.5).otherwise(0.0)
    punct_score = F.when(n == 0, 0.0).when(punct / n < 0.1, 1.0).otherwise(0.5)
    stop_score = F.when(toks == 0, 0.0).when(stop_hits / toks > 0.05, 1.0).otherwise(0.5)
    return F.when(
        c.isNotNull(), (len_score + punct_score + stop_score) / 3.0
    )


def doc_fingerprint(text: str) -> Column:
    """Whole-document stable fingerprint of column ``text``: the
    ``xxhash64`` of its whitespace-collapsed, lower-cased, trimmed form.
    One parsed SQL expression."""
    normalized = f"trim(lower(regexp_replace(`{text}`, '\\\\s+', ' ')))"
    return F.expr(f"xxhash64({normalized})")


def winnowed_fingerprints(text: str, n: int = 8, keep: int = 4) -> Column:
    """Rolling-hash document fingerprint set of column ``text``: hash
    every distinct char n-gram with ``xxhash64``, keep the ``keep``
    smallest hashes (a winnowing sketch) — array<bigint>.  Two documents
    sharing any fingerprint are copy-candidates.

    Positional hashing à la ``dedup._shingle_hashes_sql`` is NOT usable
    here: winnowing keeps the k smallest hash VALUES with duplicates, so
    dedup must happen on the shingle STRINGS.
    """
    t = f"`{text}`"
    shingles = (
        f"array_distinct(transform(sequence(1, greatest(length({t}) - {n - 1}, "
        f"1)), i -> substr({t}, i, {n})))"
    )
    return F.expr(
        f"slice(array_sort(transform({shingles}, s -> xxhash64(s))), 1, {keep})"
    )


def repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals, appended as columns:

    - ``dup_line_frac``: 1 − distinct/total non-blank lines — boilerplate
      and scraped-page chrome repeat lines verbatim;
    - ``top_bigram_share``: occurrences of the most frequent word bigram
      over total bigrams — degenerate generated text loops short phrases.

    All native array higher-order functions: each document's arrays never
    leave their row (no explode, no shuffle) — the operator is map-only at
    any corpus size. The top-bigram count is sort + one linear fold over
    the sorted array (longest equal run), O(n log n) in the document's own
    length — NOT the naive distinct×scan O(u·n), which measured ~100×
    slower in the Catalyst expression interpreter on multi-KB documents.
    """
    c = F.col(text_col)
    lines = F.filter(
        F.split(c, r"\n"), lambda x: F.length(trim_ws(x)) > 0
    )
    n_lines = F.size(lines)
    dup_line_frac = F.when(
        n_lines > 0,
        1 - F.size(F.array_distinct(lines)) / n_lines,
    ).otherwise(F.lit(0.0))

    t = trim_ws(F.lower(c))
    words = F.split(t, r"\s+")
    n_words = F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(words))
    # zip the word array with itself shifted by one; the lambda touches only
    # its element arguments — an outer `words` capture (element_at form)
    # re-evaluates the split per element, turning the build quadratic
    bigrams = F.when(
        n_words >= 2,
        F.zip_with(
            F.slice(words, 1, n_words - 1),
            F.slice(words, 2, n_words - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # one fold over the sorted bigram array yields BOTH the longest equal
    # run (== max occurrence count) and the total count — the share is then
    # best/n with the array expression referenced exactly once (Catalyst
    # inlines every reference, so each extra mention re-splits the text)
    top_bigram_share = F.aggregate(
        F.array_sort(bigrams),
        F.named_struct(
            F.lit("prev"), F.lit(""), F.lit("run"), F.lit(0),
            F.lit("best"), F.lit(0), F.lit("n"), F.lit(0),
        ),
        lambda acc, x: F.named_struct(
            F.lit("prev"), x,
            F.lit("run"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            F.lit("best"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ),
            F.lit("n"), acc["n"] + 1,
        ),
        lambda acc: F.when(
            acc["n"] > 0, acc["best"] / acc["n"]
        ).otherwise(F.lit(0.0)),
    )
    return df.withColumns(
        {
            "dup_line_frac": dup_line_frac,
            "top_bigram_share": top_bigram_share,
        }
    )


def token_fertility(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer fertility per corpus slice: characters and utf-8 bytes

    per (whitespace-)token — the per-language table a tokenizer budget
    review reads (a language whose bytes/token runs hot is the one the
    vocab under-serves). Single hash aggregate; numerators and
    denominators are exact int64 sums, divided ONCE per group, so the
    ratios are engine-portable with no per-row float accumulation.

    Output: (group, n_docs, n_tokens, chars_per_token, bytes_per_token)
    ordered by group.

    NULL text counts 0 tokens (the canonical budgeting convention —
    see preparation._ws_token_count) so an all-NULL group reports
    n_tokens 0 / NULL ratios on every engine, never engine-dependent
    NULL sums.
    """
    toks = token_count(F.coalesce(F.col(text_col), F.lit(""))).cast("long")
    per = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").alias("n_docs"),
        F.sum(toks).alias("n_tokens"),
        F.sum(F.length(text_col).cast("long")).alias("_chars"),
        F.sum(F.octet_length(text_col).cast("long")).alias("_bytes"),
    )
    return per.select(
        "grp",
        "n_docs",
        "n_tokens",
        F.when(F.col("n_tokens") > 0, F.col("_chars") / F.col("n_tokens")).alias(
            "chars_per_token"
        ),
        F.when(F.col("n_tokens") > 0, F.col("_bytes") / F.col("n_tokens")).alias(
            "bytes_per_token"
        ),
    ).orderBy("grp")


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: the share of a document's DISTINCT

    word n-grams that occur in no other document — the memorization /
    boilerplate-risk signal a curation pass ranks by (novelty ~0 means
    the document is assembled from corpus-common spans). Two shuffles at
    any scale: one n-gram document-frequency aggregate (map-side
    combined; each document contributes each gram once, so df is a plain
    count), one join back on the gram. Counts are exact int64 and the
    ratio one int/int division. Documents with zero n-grams (empty or
    shorter than ``n`` words) produce no output row.

    Output: (id, n_grams, n_novel, novelty).
    """
    from dataengineer_spark.operators.preparation import word_ngrams
    from dataengineer_spark.tuning import tie_lifetime, transient_persist

    # the gram rows feed BOTH the document-frequency aggregate and the
    # probe side of the join — uncached, the tokenize + n-gram explode
    # ran twice (round-11; same transient-cache policy as
    # lm.bigram_perplexity, freed when the returned frame is GC'd —
    # deriving callers must carry_lifetime)
    grams = transient_persist(
        df.select(
            F.col(id_col),
            F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias(
                "_g"
            ),
        )
    )
    dfreq = grams.groupBy("_g").agg(F.count("*").alias("_df"))
    per = grams.join(dfreq, "_g").groupBy(id_col).agg(
        F.count("*").alias("n_grams"),
        F.sum(F.when(F.col("_df") == 1, 1).otherwise(0)).alias("n_novel"),
    )
    out = per.select(
        id_col,
        "n_grams",
        "n_novel",
        (F.col("n_novel") / F.col("n_grams")).alias("novelty"),
    )
    return tie_lifetime(out, grams)
