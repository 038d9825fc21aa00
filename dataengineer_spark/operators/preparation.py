"""Training-data preparation operators (SURVEY.md §2.9 extension surface).

The idioms a 100 TB corpus pipeline actually needs for dataset assembly:
deterministic hash-based splits (reproducible regardless of partitioning —
never ``sample()`` for split assignment, its result depends on partition
layout), stratified caps per group, and word/token explosion for frequency
analysis. All JVM-side expressions.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from dataengineer_spark.tuning import lineage_cut, sql_literal


SPLIT_MULT = 2654435761  # Knuth multiplicative-hash constant
#: domain-separation salts: mixture decisions must not be correlated with
#: split assignment (same affine hash + mod-100-divisible modulus would
#: make a row's mixture bucket mod 100 literally BE its split bucket, so
#: low-rate samples would consist entirely of 'train' rows)
MIXTURE_SALT = 7919
UPSAMPLE_SALT = 104729


def _reduced_key(key: Column) -> Column:
    """Key folded into [0, 2^31) before the affine multiply: keeps
    ``reduced * SPLIT_MULT + salt`` inside int64 (ANSI mode makes the
    overflow a hard ArithmeticException, not a wrap) while leaving every
    key below 2^31 — including all test fixtures and typical dense ids —
    bit-identical to the unreduced form the SQL oracles replay."""
    return F.pmod(key, F.lit(1 << 31))


def hash_bucket(key: Column, buckets: int = 100, salt: int = 0) -> Column:
    """Deterministic bucket in [0, buckets) from a numeric key — stable

    across runs, partitionings, and engines (plain integer arithmetic;
    64-bit-id-safe via the 2^31 pre-fold)."""
    return F.pmod(_reduced_key(key) * SPLIT_MULT + salt, F.lit(buckets))


def train_test_split(
    df: DataFrame,
    key_col: str,
    train_pct: int = 80,
    valid_pct: int = 10,
    out_col: str = "split",
    salt: int = 0,
) -> DataFrame:
    """Assign train/valid/test by hash bucket of a stable key.

    Key-based (not row-based) so all rows of one document/user land in the
    same split — the leakage-safe default for dedup-sensitive corpora.
    """
    b = hash_bucket(F.col(key_col), 100, salt)
    split = (
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + valid_pct, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn(out_col, split)


def stratified_cap(
    df: DataFrame, group_cols: list[str], order_by: list[Column], cap: int
) -> DataFrame:
    """At most ``cap`` rows per group, deterministically chosen by

    ``order_by`` — the per-source/per-language quota pattern for corpus
    balancing (window row_number, one shuffle on the group keys)."""
    from dataengineer_spark.operators.windows import top_k_per_group

    return top_k_per_group(df, group_cols, order_by, cap)


def sample_n_per_group(
    df: DataFrame, group_cols: list[str], id_col: str, n: int, salt: str = ""
) -> DataFrame:
    """Deterministic pseudo-random sample of ``n`` rows per group: rank by
    the md5 of (id, salt) and keep the first ``n``. Unlike ``df.sample``
    this is exactly reproducible across runs/engines and exactly ``n`` per
    group (when the group has that many) — the eval-set carving pattern.
    Changing ``salt`` redraws the sample. One shuffle on the group keys.
    """
    from dataengineer_spark.operators.windows import top_k_per_group

    order = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    return top_k_per_group(df, group_cols, [order.asc(), F.col(id_col).asc()], n)


def explode_words(
    df: DataFrame, text_col: str, out_col: str = "word", lowercase: bool = True
) -> DataFrame:
    """One row per whitespace token (keeps all other columns).

    Empty/whitespace-only (and NULL) documents yield ZERO rows — without
    the filter, ``split('')`` produces a single '' element and the empty
    string shows up as a corpus word in every downstream frequency table.
    """
    from dataengineer_spark.operators.textops import trim_ws

    c = F.col(text_col)
    if lowercase:
        c = F.lower(c)
    toks = F.filter(
        F.split(trim_ws(c), r"\s+"), lambda w: w != F.lit("")
    )
    return df.withColumn(out_col, F.explode(toks))


def word_counts(
    df: DataFrame, text_col: str, top_n: int | None = None
) -> DataFrame:
    """Corpus word-frequency table (map-side combine then one shuffle);

    deterministic order by (count desc, word) when ``top_n`` is set."""
    words = explode_words(df.select(text_col), text_col)
    counts = words.groupBy("word").agg(F.count("*").alias("n"))
    if top_n is not None:
        counts = counts.orderBy(F.col("n").desc(), F.col("word").asc()).limit(top_n)
    return counts


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    n_buckets: int = 1024,
) -> DataFrame:
    """Assign documents to fixed token-budget training bins (sequence

    packing). Documents are streamed in deterministic ``id`` order within a
    hash bucket and assigned concat-and-chunk style: a document belongs to
    the bin containing its starting cumulative offset (``floor(offset /
    budget)``), exactly as if the bucket's documents were concatenated and
    cut every ``budget`` tokens — a document straddling a cut stays whole
    in its starting bin, so bins can overflow by one document and the bin
    after a straddle starts correspondingly later.

    Scale: the running sum is windowed PER BUCKET, so no global sort or
    single-task window exists; ``n_buckets`` bounds each window's data at
    corpus_size/n_buckets. pack_id = bucket·2³² + local bin: globally
    unique without coordination. Fully deterministic — same input, same
    packs, on any partitioning (hash_bucket is plain integer arithmetic).
    """
    from pyspark.sql import Window as W

    bucket = hash_bucket(F.col(id_col), n_buckets)
    w = W.partitionBy("_bucket").orderBy(id_col)
    cum_before = F.coalesce(
        F.sum(token_col).over(w.rowsBetween(W.unboundedPreceding, -1)),
        F.lit(0),
    )
    return (
        df.withColumn("_bucket", bucket)
        .withColumn(
            "pack_id",
            (F.col("_bucket").cast("bigint") * F.lit(2**32).cast("bigint"))
            + F.floor(cum_before / F.lit(budget)),
        )
        .drop("_bucket")
    )


def mixture_sample(
    df: DataFrame,
    key_col: str,
    domain_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    mod: int = 100_000,
    salt: int = MIXTURE_SALT,
) -> DataFrame:
    """Per-domain weighted sampling for dataset mixing (e.g. upweight

    books, downweight web). Keeps a row iff its deterministic hash bucket
    falls under the domain's rate — reproducible across runs, engines, and
    partitionings, unlike ``sample()``. A pure map-side filter: no shuffle,
    no RNG state, safe to push below any downstream operator.

    The default ``salt`` domain-separates the decision from
    ``train_test_split`` (and from ``mixture_upsample``) — pass distinct
    salts yourself when layering further hash-based decisions.
    Thresholds round half-up so a rate of 0.3 means exactly 30 000 of
    100 000 buckets (plain ``int()`` would truncate the IEEE product one
    bucket short).
    """
    bucket = F.pmod(_reduced_key(F.col(key_col)) * SPLIT_MULT + salt, F.lit(mod))
    threshold = F.lit(int(default_rate * mod + 0.5))
    for domain, rate in sorted(rates.items()):
        threshold = F.when(
            F.col(domain_col) == domain, F.lit(int(rate * mod + 0.5))
        ).otherwise(threshold)
    return df.where(bucket < threshold)


def mixture_upsample(
    df: DataFrame,
    key_col: str,
    domain_col: str,
    factors: dict[str, float],
    default_factor: float = 1.0,
    mod: int = 100_000,
    salt: int = UPSAMPLE_SALT,
    copy_col: str = "copy_n",
) -> DataFrame:
    """Per-domain weighted UP-sampling for dataset mixing — the ≥1×

    complement of ``mixture_sample``: a factor of 2.3 repeats every row
    of that domain twice and a deterministic 30% of them a third time
    (fractional remainder decided by the same hash-bucket rule as
    ``mixture_sample``, so epochs are reproducible across runs, engines,
    and partitionings).  Factors below 1 degenerate to plain
    downsampling (0 or 1 copies).  Emits ``copy_col`` (1..n) so
    downstream ids can be re-uniquified (``id * max_copies + copy_n``).

    A pure map-side ``explode(sequence(...))`` — no shuffle, no RNG
    state; at 100 TB the output volume is exactly the mixture-weighted
    corpus size, produced without ever materializing an intermediate.
    """
    bucket = F.pmod(_reduced_key(F.col(key_col)) * SPLIT_MULT + salt, F.lit(mod))
    # thresholds round half-up: 2.3 % 1.0 is 0.29999…82 in IEEE, and a
    # plain int() truncation would land one bucket short of the
    # documented 30% third copy
    n_rep = F.lit(int(default_factor)) + (
        bucket < F.lit(int((default_factor % 1.0) * mod + 0.5))
    ).cast("int")
    for domain, f in sorted(factors.items()):
        whole, frac = int(f), f % 1.0
        n_rep = F.when(
            F.col(domain_col) == domain,
            F.lit(whole) + (bucket < F.lit(int(frac * mod + 0.5))).cast("int"),
        ).otherwise(n_rep)
    # sequence(1, 0) would count DOWN ([1, 0]); zero-copy rows must yield
    # an empty array so explode drops them
    copies = F.when(n_rep >= 1, F.sequence(F.lit(1), n_rep)).otherwise(
        F.array().cast("array<int>")
    )
    return df.withColumn(copy_col, F.explode(copies))


def _ws_token_count(text_col: str) -> Column:
    """Whitespace token count of a text column — THE token definition the
    budget/mixture oracles replay; every budgeting site must use this one
    expression or engine and oracle silently disagree."""
    return F.size(
        F.filter(
            F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
            lambda w: w != F.lit(""),
        )
    ).cast("long")


def corpus_budget_report(
    df: DataFrame, domain_col: str, text_col: str = "text"
) -> DataFrame:
    """Token-budget accounting per domain — the table a mixture design

    starts from: document and (whitespace-)token counts per domain with
    exact shares and a cumulative share over domains ordered
    heaviest-first.  One hash aggregate (map-side combined token sums),
    then window arithmetic on the domain-cardinality-bounded result;
    totals ride as a one-row broadcast.  Integer counts → shares are
    exact rationals, engine-portable after rounding.

    Output: (domain, n_docs, n_tokens, token_share, cum_token_share)
    ordered by n_tokens desc (ties by domain asc).
    """
    from pyspark.sql import Window as W

    toks = _ws_token_count(text_col)
    per = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count("*").alias("n_docs"),
        F.sum(toks).alias("n_tokens"),
    )
    total = per.agg(F.sum("n_tokens").alias("_tot"))
    order = [F.col("n_tokens").desc(), F.col("domain").asc()]
    w = W.orderBy(*order).rowsBetween(W.unboundedPreceding, 0)
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "domain",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("_tot"), 6).alias("token_share"),
            F.round(F.sum("n_tokens").over(w) / F.col("_tot"), 6).alias(
                "cum_token_share"
            ),
        )
        .orderBy(*order)
    )


def word_ngrams(c: Column, n: int) -> Column:
    """In-row word ``n``-gram array (space-joined, order-preserving,
    duplicates kept); empty/short texts give an empty array."""
    from dataengineer_spark.operators.textops import trim_ws

    t = trim_ws(F.lower(c))
    words = F.split(t, r"\s+")
    n_words = F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(words))
    return F.when(
        n_words >= n,
        F.transform(
            F.slice(words, 1, n_words - (n - 1)),
            lambda _w, i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngram_overlap(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
) -> DataFrame:
    """Benchmark-contamination check: per document, how many of its word

    ``n``-grams appear verbatim in a benchmark corpus. The benchmark side
    is n-gram-exploded, deduplicated, and broadcast (eval suites are
    dimension-sized next to a 100 TB corpus); documents explode their
    n-grams once and inner-join — the join carries only (id, gram) pairs,
    never full texts. Returns (id, n_grams, n_hits, contaminated).
    """
    def grams(c: Column) -> Column:
        return word_ngrams(c, n)

    # the corpus-side gram build is the compute-bound stage (tokenize +
    # n-gram assembly per document); fan it out so a single-row-group
    # local input doesn't serialize it on one task — a structural no-op
    # at production split counts (the benchmark side is dimension-sized
    # by contract and stays as scanned)
    from dataengineer_spark.tuning import fan_out

    df = fan_out(df.select(F.col(id_col), F.col(text_col)))
    bench_grams = (
        benchmark.select(F.explode(grams(F.col(text_col))).alias("_g"))
        .dropDuplicates()
    )
    doc_grams = df.select(
        F.col(id_col), F.explode(grams(F.col(text_col))).alias("_g")
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "_g")
        .groupBy(id_col)
        .agg(F.countDistinct("_g").alias("n_hits"))
    )
    totals = df.select(F.col(id_col), F.size(grams(F.col(text_col))).alias("n_grams"))
    return (
        totals.join(hits, id_col, "left_outer")
        .select(
            id_col,
            "n_grams",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def temperature_budget_mixture(
    df: DataFrame,
    domain_col: str,
    total_tokens: int | None = None,
    alpha: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
    budget_fraction: float | None = None,
) -> DataFrame:
    """Temperature-flattened domain mixture under a global token budget —

    the multilingual/domain-balancing sampler (public method: sampling
    probabilities ∝ share^α, α<1 up-weights tail domains): each domain j
    with S_j available tokens gets budget
    ``n_j = min(S_j, floor(total_tokens · S_j^α / Σ S^α))``, then the
    budget fills GREEDILY in deterministic pseudorandom document order
    (hash of the id, ties by id) with whole documents while the running
    token sum stays within n_j.

    Engine-portability: domain stats are a control-plane collect (one
    hash aggregate, domain-cardinality rows); α=0.5 uses ``sqrt`` —
    correctly rounded under IEEE 754, so any engine derives the IDENTICAL
    budgets (Σ S^α is a left fold over domains in ascending domain
    order); the selection order uses the portable poly hash of the id's
    decimal string under ``portable=True`` (oracle-replayable) or
    ``xxhash64`` otherwise; running sums are exact integers.  NULL
    domains receive no budget (dropped, like a zero-weight domain).

    Scale shape: one aggregate shuffle for stats + one window shuffle on
    the domain for selection.  A single giant domain serializes its own
    window; at that point range-partition its prefix sum exactly as
    ``pps_systematic_sample`` does — same contract, documented seam.

    Output: selected rows as (id, domain, n_tok) — join back on the id
    for full rows.
    """
    import math

    from pyspark.sql import Window as W

    if (total_tokens is None) == (budget_fraction is None):
        raise ValueError(
            "temperature_budget_mixture: pass exactly one of total_tokens "
            "or budget_fraction"
        )
    toks = _ws_token_count(text_col)
    stats = (
        df.where(F.col(domain_col).isNotNull())
        .groupBy(F.col(domain_col).alias("_d"))
        .agg(F.sum(toks).alias("_s"))
        .collect()
    )
    pairs = sorted((r["_d"], int(r["_s"])) for r in stats)
    if budget_fraction is not None:
        # derive the target from the stats ALREADY collected — one corpus
        # pass, not a separate total-scan job
        total_tokens = int(budget_fraction * sum(s for _, s in pairs))
    if alpha == 0.5:
        weights = [math.sqrt(s) for _, s in pairs]
    else:
        weights = [float(s) ** alpha for _, s in pairs]
    wsum = 0.0
    for x in weights:
        wsum = wsum + x
    budgets = {
        d: min(s, int(total_tokens * w / wsum)) if wsum > 0 else 0
        for (d, s), w in zip(pairs, weights)
    }
    if not budgets:
        return df.select(
            F.col(id_col),
            F.col(domain_col).alias("domain"),
            toks.alias("n_tok"),
        ).where(F.lit(False))
    budget_lit = F.create_map(
        *[F.lit(x) for d, n in sorted(budgets.items()) for x in (d, n)]
    )
    h = (
        F.expr(_poly_hash_sql(f"CAST(`{id_col}` AS STRING)"))
        if portable
        else F.xxhash64(F.col(id_col))
    )
    win = (
        W.partitionBy("domain")
        .orderBy(F.col("_h").asc(), F.col(id_col).asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        df.where(F.col(domain_col).isNotNull())
        .select(
            F.col(id_col),
            F.col(domain_col).alias("domain"),
            toks.alias("n_tok"),
            h.alias("_h"),
        )
        .withColumn("_run", F.sum("n_tok").over(win))
        # try_element_at: a domain first seen AFTER the stats collect (a
        # live source gaining a domain mid-build) drops -- the documented
        # no-budget behavior -- instead of an ANSI MAP_KEY_DOES_NOT_EXIST
        .where(
            F.col("_run") <= F.try_element_at(budget_lit, F.col("domain"))
        )
        .select(id_col, "domain", "n_tok")
    )


# -- DSIR importance weighting ----------------------------------------------

#: modulus for the portable polynomial char hash (shared with the oracle)
_POLY_MOD = 1_000_003


def _poly_hash_sql(s_sql: str) -> str:
    """SQL text of the engine-portable hash of one string: fold

    ``(acc*31 + codepoint) % 1_000_003`` over its characters. Exists so
    the DuckDB oracle (``__spark_entry__._duck_poly``) can reproduce
    bucket assignment bit-for-bit; the scale default is ``xxhash64``
    (JVM, no per-char array walk).

    The ``split``-array input is LOAD-BEARING, not an accident: the
    HOF's input expression is evaluated ONCE per row, so ``s_sql`` may
    be an arbitrarily complex expression (a regex-normalized string, say).
    A position-``sequence`` fold that captures ``s_sql`` in its lambda
    re-evaluates the whole expression per CHARACTER — Catalyst inlines
    the capture — which turned a regex-normalized document hash into a
    regex pass per char, O(len²) (6→21 s at sf0.1 before this was
    caught).
    For known-length, cheap inputs use :func:`_poly_unrolled_sql`.
    """
    return (
        f"aggregate(transform(filter(split({s_sql}, ''), x -> x != ''), "
        f"x -> ascii(x)), CAST(0 AS BIGINT), "
        f"(acc, x) -> (acc * 31 + x) % {_POLY_MOD})"
    )


def _poly_unrolled_sql(code_at: Callable[[int], str], n: int) -> str:
    """SQL text of the :func:`_poly_hash_sql` fold over EXACTLY ``n``
    characters, loop unrolled into one flat expression — no per-char
    array walk, no interpreted fold; ~4× the folded form on shingle-hash
    workloads.  ``code_at(j)`` renders the BIGINT codepoint at 0-based
    position ``j`` (``element_at`` of a staged codepoint array, or
    ``ascii(substr(...))`` of a lambda variable).

    Identical values: the polynomial is reduced mod p every 8 steps (an
    unreduced prefix < p·31⁸ ≈ 8.6e17 stays inside int64 under ANSI),
    and ``(x mod p)·31 + c ≡ x·31 + c (mod p)``.  The CALLER guarantees
    length — on shorter input the missing codepoints silently change the
    value, so guard with ``length(s) = n`` and fall back to
    :func:`_poly_hash_sql`.

    ``code_at`` MUST read a cheap reference (a lambda variable, a plain
    column, or a staged array): the unrolled form reads it once per
    character, and Catalyst inlines expression arguments — a
    regex/concat expression here would re-run per char (see
    :func:`_poly_hash_sql` for the incident this rule comes from).
    """
    acc = code_at(0)
    for j in range(1, n):
        acc = f"({acc} * 31 + {code_at(j)})"
        if j % 8 == 0:
            acc = f"({acc} % {_POLY_MOD})"
    return f"({acc} % {_POLY_MOD})"


def dsir_importance(
    df: DataFrame,
    target_pred: Column,
    buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection

    for Language Models via Importance Resampling"): model target and
    raw corpora as bag-of-hashed-token distributions over ``buckets``
    buckets and score every document by its log importance ratio

        log w(d) = sum_tokens [ ln p_target(b) - ln p_raw(b) ]

    with add-one smoothing on both distributions. ``target_pred`` is a
    boolean Column over ``df``'s rows selecting the target corpus (e.g.
    ``F.col("lang") == "en"``). Returns
    ``(doc_id, n_tokens, dsir_logratio)`` for every document with >= 1
    token; documents matching the target style score high.

    Scale shape: tokenize is map-only; per-(doc, bucket) counts shuffle
    once on an 8-byte composite key; the two corpus distributions are
    ``buckets``-row aggregates joined back by broadcast — no token, and
    certainly no text, crosses the wire twice. At 100 TB the bucket
    tables are control-plane-sized (64 rows) regardless of corpus size.
    """
    words = F.split(
        F.regexp_replace(F.lower(F.col(text_col)), r"^\s+|\s+$", ""), r"\s+"
    )
    tok = (
        df.select(
            F.col(id_col).alias("id"),
            target_pred.alias("_t"),
            F.explode(words).alias("w"),
        )
        .where(F.length("w") > 0)
    )
    tok = tok.select(
        "id", "_t", F.pmod(F.xxhash64("w"), F.lit(buckets)).alias("b")
    )

    per_db = tok.groupBy("id", "b").agg(F.count("*").alias("cnt"))
    raw = tok.groupBy("b").agg(F.count("*").alias("cr"))
    tgt = tok.where("_t").groupBy("b").agg(F.count("*").alias("ct"))
    dist = (
        raw.join(tgt, "b", "left")
        .na.fill({"ct": 0})
        .crossJoin(
            F.broadcast(
                tok.agg(
                    F.count("*").alias("tr"),
                    F.count(F.when(F.col("_t"), 1)).alias("tt"),
                )
            )
        )
        .select(
            "b",
            (
                F.log((F.col("ct") + 1.0) / (F.col("tt") + F.lit(buckets)))
                - F.log((F.col("cr") + 1.0) / (F.col("tr") + F.lit(buckets)))
            ).alias("lam"),
        )
    )
    return (
        per_db.join(F.broadcast(dist), "b")
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.round(
                F.sum(
                    (F.col("cnt") * F.col("lam")).cast("decimal(28,12)")
                ).cast("double"),
                6,
            ).alias("dsir_logratio"),
        )
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window document chunking — the sequence-preparation /
    retrieval-indexing staple: split each document into ``chunk_tokens``-
    token windows advancing by ``chunk_tokens - overlap``, so adjacent
    chunks share ``overlap`` tokens of context.

    A window starts at token ``s ∈ {1, 1+stride, 1+2·stride, …}`` and is
    emitted iff it is the first window or the previous window did not
    already reach the document's end — so every token is covered, the
    tail chunk may be short, and no chunk is fully contained in its
    predecessor. Returns ``(id, chunk_id, start_token, n_tokens,
    chunk_text)``, 1-based, one row per chunk; documents with no tokens
    emit nothing.

    Scale shape: map-only — tokenization, window arithmetic, and slicing
    all happen inside the row (``sequence``/``filter``/``transform``
    HOFs + one explode). No shuffle at any size; downstream writers
    partition however they like. Extends the reference's preparation
    family (SURVEY.md §2.9 E16) with the chunking step a training/RAG
    pipeline needs between cleaning and tokenization.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    from dataengineer_spark.operators.textops import trim_ws

    t = trim_ws(F.lower(F.col(text_col)))
    words = F.when(
        F.length(t) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(t, r"\s+"))
    n = F.size(words)
    # starts: 1, 1+stride, ... ; keep s if it's the first window or the
    # previous window (ending at s - stride + chunk_tokens - 1) fell short
    # of the document end
    starts = F.filter(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride)),
        lambda s: (s == 1) | (s - stride + (chunk_tokens - 1) < n),
    )
    chunks = F.when(
        n > 0,
        F.transform(
            starts,
            lambda s, i: F.struct(
                (i + 1).cast("bigint").alias("chunk_id"),
                s.cast("bigint").alias("start_token"),
                F.least(n - s + 1, F.lit(chunk_tokens))
                .cast("bigint")
                .alias("n_tokens"),
                F.concat_ws(" ", F.slice(words, s, chunk_tokens)).alias(
                    "chunk_text"
                ),
            ),
        ),
    ).otherwise(
        F.lit(None).cast(
            "array<struct<chunk_id:bigint,start_token:bigint,"
            "n_tokens:bigint,chunk_text:string>>"
        )
    )
    return df.select(
        F.col(id_col).alias("id"), F.explode(chunks).alias("c")
    ).select(
        "id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.start_token").alias("start_token"),
        F.col("c.n_tokens").alias("n_tokens"),
        F.col("c.chunk_text").alias("chunk_text"),
    )


# -- Bloom-filter decontamination (tiny-broadcast-state scale path) ----------


def _bloom_positions(gram: Column, k: int, m: int) -> Column:
    """Array of the ``k`` bit positions one gram sets (xxhash64 seeded per
    probe by prepending the probe index; pmod into [0, m))."""
    return F.array(*[F.pmod(F.xxhash64(F.lit(i), gram), F.lit(m)) for i in range(k)])


def bloom_bitset(df: DataFrame, col: str, k: int = 4, m: int = 1 << 18) -> DataFrame:
    """The Bloom filter as a relational bitset: the distinct bit positions

    set by ``col``'s values — at most ``m`` rows no matter how large the
    input (the cms_table trick applied to membership).  Mergeable across
    benchmark shards by unioning + distinct."""
    return df.select(
        F.explode(_bloom_positions(F.col(col), k, m)).alias("pos")
    ).dropDuplicates()


def bloom_contamination(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    k: int = 4,
    m: int = 1 << 18,
) -> DataFrame:
    """:func:`ngram_overlap` with the benchmark side compressed to a Bloom

    bitset: a doc gram counts as a (maybe-)hit iff ALL ``k`` of its bit
    positions are present.  The probe state is the bitset packed into
    m/64 BIGINT words (32 KB at m=2^18) riding in the plan as one
    literal — fixed-size however large the benchmark suite.  One-sided
    error: every truly-contaminated gram is flagged (no false negatives —
    the guarantee the oracle asserts); false positives are bounded by the
    classic (1-e^{-kn/m})^k.  Returns (id, n_grams, n_bloom_hits,
    maybe_contaminated).
    """
    hits = _bloom_gram_hits(benchmark, text_col, n, k, m)
    all_grams = word_ngrams(F.col(text_col), n)
    return df.select(
        F.col(id_col),
        F.size(all_grams).alias("n_grams"),
        F.coalesce(hits, F.lit(0)).alias("n_bloom_hits"),
        (F.coalesce(hits, F.lit(0)) > 0).alias("maybe_contaminated"),
    )


def _bloom_gram_hits(
    benchmark: DataFrame, text_col: str, n: int, k: int, m: int
) -> Column:
    """Benchmark-gram Bloom probe as a single COLUMN over ``text_col``:
    the count of the row's distinct word n-grams whose ``k`` bit
    positions are all set in the benchmark bitset.

    The bitset is built distributed (bloom_bitset — mergeable across
    benchmark shards) but PROBED as a plan literal: m bits pack into
    m/64 longs (32 KB at m=2^18), so the corpus side is ONE map-only
    pass — per doc, an in-row filter over its distinct grams testing
    all k bit positions against the mask.  The previous shape exploded
    (id, gram) rows, shuffled them for a distinct, exploded k probe
    rows each, and re-aggregated twice; at 100 TB that shuffled the
    corpus's full gram text.  Nothing exchanges now.  The build feeds
    grams straight into the position explode WITHOUT a gram-level
    dropDuplicates (round-11): bloom_bitset dedups POSITIONS, so the
    bitset is identical either way and the build job loses its gram
    exchange — hashing a duplicate gram k times is cheaper than
    shuffling the gram text to dedup it first.
    """
    from dataengineer_spark.tuning import array_lit

    bench_pos = bloom_bitset(
        benchmark.select(
            F.explode(word_ngrams(F.col(text_col), n)).alias("_g")
        ),
        "_g", k, m,
    ).collect()  # ≤ m rows of one int — control-plane-sized by design
    words = [0] * max(1, (m + 63) >> 6)  # ceil(m/64); tiny test bitsets
    for r in bench_pos:
        pos = r["pos"]
        words[pos >> 6] |= 1 << (pos & 63)
    # two's-complement into signed int64 for the BIGINT array literal
    # explicit BIGINT: all-small words would otherwise type the literal
    # array<int> and getbit would reject bit positions >= 32
    mask = array_lit(
        [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    ).cast("array<bigint>")

    def gram_hits_all_bits(g: Column) -> Column:
        return F.forall(
            F.array_distinct(_bloom_positions(g, k, m)),
            lambda p: F.getbit(
                F.element_at(mask, F.shiftright(p, 6).cast("int") + 1),
                p.bitwiseAND(F.lit(63)),
            )
            == 1,
        )

    all_grams = word_ngrams(F.col(text_col), n)
    return F.size(F.filter(F.array_distinct(all_grams), gram_hits_all_bits))


def bloom_exact_contamination(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    k: int = 4,
    m: int = 1 << 18,
) -> DataFrame:
    """:func:`bloom_contamination` and :func:`ngram_overlap` fused into
    one pass — the audit shape that reports the Bloom hit count NEXT TO
    the exact count per document (the no-false-negative check).

    Row-for-row equal to ``bloom_contamination(df, ...).join(
    ngram_overlap(df, ...), id)`` projected to (id, n_grams, n_hits,
    contaminated, no_false_neg), but structurally cheaper (round-11,
    guide §2.4): the separate composition scanned the corpus THREE times
    (bloom probe, exact gram explode, exact totals) and paid a
    corpus-wide doc_id join to glue the two operators back together;
    here the map-only Bloom probe rides ON the totals projection, so the
    corpus scans twice (probe+totals, gram explode) and the only join
    left is the per-doc hits attach the exact count already needed.
    ``n_grams`` is the same expression either side computed it from, and
    the old inner join was over two full-coverage sides, so the fused
    left join keeps the identical row set.
    """
    from dataengineer_spark.tuning import fan_out

    df = fan_out(df.select(F.col(id_col), F.col(text_col)))
    bloom_hits = _bloom_gram_hits(benchmark, text_col, n, k, m)
    grams = word_ngrams(F.col(text_col), n)
    base = df.select(
        F.col(id_col),
        F.size(grams).alias("n_grams"),
        F.coalesce(bloom_hits, F.lit(0)).alias("n_bloom_hits"),
    )
    bench_grams = (
        benchmark.select(F.explode(word_ngrams(F.col(text_col), n)).alias("_g"))
        .dropDuplicates()
    )
    doc_grams = df.select(F.col(id_col), F.explode(grams).alias("_g"))
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "_g")
        .groupBy(id_col)
        .agg(F.countDistinct("_g").alias("n_hits"))
    )
    return base.join(hits, id_col, "left_outer").select(
        id_col,
        "n_grams",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        (F.col("n_bloom_hits") >= F.coalesce("n_hits", F.lit(0))).alias(
            "no_false_neg"
        ),
    )


# -- PPS systematic sampling (deterministic weighted selection) --------------


def pps_systematic_sample(
    df: DataFrame, id_col: str, weight_col: str, n: int, n_part: int = 32
) -> DataFrame:
    """Probability-proportional-to-size systematic sample, exactly

    deterministic: rows ordered by ``id_col`` carry a cumulative integer
    weight, and a row is selected iff its interval [cum-w, cum) crosses a
    multiple of W/n — i.e. ``(cum*n) div W > ((cum-w)*n) div W``.  Pure
    integer arithmetic, so any engine reproduces the same sample bit-for-
    bit (the property ``df.sample`` can never give you), and inclusion
    probability is proportional to weight — the corpus-balancing sampler
    when documents should be drawn by token mass, not per-row.

    Scale: the prefix sum is distributed exactly as the exact-percentile
    operator's — range-partition by id, per-partition weight sums collect
    as control-plane broadcast offsets, a local window completes the
    cumsum.  No global sort, no single-task window.  Rows with weight >
    W/n count several threshold crossings but select once, so the sample
    can be smaller than ``n`` (never larger).
    """
    from pyspark.sql import Window as W

    spark = df.sparkSession
    ranged = lineage_cut(
        df.select(id_col, F.col(weight_col).cast("long").alias("_w"))
        .where(F.col("_w") > 0)
        .repartitionByRange(n_part, F.col(id_col))
        .withColumn("_pid", F.spark_partition_id())
        # lineage cut + one materialization (same reason as the exact
        # percentiles: _pid must mean the same partition in the sums
        # pass and the selection pass) — the checkpoint freezes the
        # computed _pid values in the data, so the returned frame stays
        # LAZY and the sample never round-trips through the driver
        # (with n in the millions the old collect was a driver hot spot)
    )
    sums = ranged.groupBy("_pid").agg(F.sum("_w").alias("s")).orderBy("_pid").collect()
    offsets, acc = [], 0
    for r in sums:
        offsets.append((r["_pid"], acc))
        acc += r["s"]
    total = acc
    if total == 0:
        # empty frame with the SAME schema as the non-empty path —
        # a hardcoded `{id_col} long` would break unions/schema
        # checks for non-long id columns on the all-zero-weights day
        id_type = df.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [], f"{id_col} {id_type}, weight long"
        )
    from dataengineer_spark.tuning import control_frame

    off_df = control_frame(spark, offsets, ["_pid", "_offset"])
    local = W.partitionBy("_pid").orderBy(id_col).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = (F.sum("_w").over(local) + F.col("_offset")).alias("_cum")
    return (
        ranged.join(F.broadcast(off_df), "_pid")
        .select(id_col, F.col("_w").alias("weight"), cum)
        .where(
            F.expr(f"(_cum * {n}) div {total}")
            > F.expr(f"((_cum - weight) * {n}) div {total}")
        )
        .select(id_col, "weight")
    )


def equal_frequency_bin(
    df: DataFrame, col: str, k: int, out: str | None = None
) -> DataFrame:
    """Feature discretization into ~equal-population bins WITHOUT a

    global row sort: rows are first reduced to per-distinct-value counts
    (one hash aggregate with map-side combine), a single window over the
    distinct-VALUE axis accumulates strictly-below counts, and each
    value maps to ``floor(k · below / total) + 1`` (∈ 1..k) — every row
    with the same value lands in the same bin (ntile would split ties
    arbitrarily, making results partition-dependent).

    The only non-distributed step is the window over distinct values,
    bounded by value cardinality, not rows — quantize continuous inputs
    upstream (round / cast) to cap it, same contract as roc_auc.  The
    total rides as a one-row broadcast; the value→bin map joins back on
    the value (broadcast when small).  Integer arithmetic end to end, so
    bin edges are engine-exact.

    NULL values don't participate in the bin population (they would
    skew edge placement) and pass through with a NULL bin — the join
    back is a LEFT join, so no row is ever dropped.
    """
    from pyspark.sql import Window as W

    counts = (
        df.where(F.col(col).isNotNull())
        .groupBy(F.col(col).alias("_val"))
        .agg(F.count("*").alias("_c"))
    )
    # strictly-below count and grand total from ONE window pass (same
    # ordering → one WindowExec, no separate total agg + scalar join)
    w = W.orderBy(F.col("_val").asc()).rowsBetween(W.unboundedPreceding, -1)
    w_tot = W.orderBy(F.col("_val").asc()).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    bins = counts.select(
        "_val",
        (
            F.floor(
                F.lit(k)
                * F.coalesce(F.sum("_c").over(w), F.lit(0))
                / F.sum("_c").over(w_tot)
            )
            + 1
        )
        .cast("int")
        .alias(out or f"{col}_bin"),
    )
    return df.join(bins, df[col] == bins["_val"], "left").drop("_val")


def assign_shards(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    portable_hash: bool = False,
    out: str = "shard",
) -> DataFrame:
    """Deterministic shard id per row: ``hash(id) mod n_shards``.

    Map-only (no shuffle — the write's repartition does that once).
    Stable across runs AND engines: re-running an export yields
    byte-identical shard membership, so downstream dataloaders can
    resume mid-epoch and exports are diffable.  ``xxhash64`` is the
    scale default (one JVM hash call); ``portable_hash=True`` swaps the
    poly char fold a DuckDB oracle replays bit-for-bit.
    """
    if portable_hash:
        h = F.expr(_poly_hash_sql(f"CAST(`{id_col}` AS STRING)"))
    else:
        h = F.xxhash64(F.col(id_col).cast("string"))
    return df.withColumn(out, F.pmod(h, F.lit(n_shards)).cast("int"))


def shard_export(
    df: DataFrame,
    path: str,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable_hash: bool = False,
) -> DataFrame:
    """Hash-sharded training-data export + per-shard manifest — the last

    step of a curation pipeline, where the corpus becomes the fixed
    shard files a dataloader streams.  Plan: shard assignment is a
    map-only column append; ONE ``repartition(n_shards, shard)``
    shuffle co-locates each shard in exactly one task, so
    ``partitionBy('shard')`` writes one file per shard directory
    (shard-pruned reads, no small-file spray).  At 100 TB pick
    ``n_shards`` so a shard ≈ executor-memory-sized; skewed ids are
    immune since the hash is uniform by construction.

    Returns the manifest (per-shard docs / whitespace tokens / utf-8
    bytes) aggregated from a READ-BACK of the written lake — the
    numbers certify what landed on disk, not what the plan intended.
    """
    from dataengineer_spark.operators.textops import token_count

    sharded = assign_shards(
        df, n_shards, id_col=id_col, portable_hash=portable_hash
    )
    (
        sharded.repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    back = df.sparkSession.read.parquet(path)
    return back.groupBy(F.col("shard").cast("int").alias("shard")).agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col(text_col)).cast("bigint")).alias("n_tokens"),
        F.sum(F.octet_length(text_col).cast("bigint")).alias("n_bytes"),
    )


def kfold_assign(
    df: DataFrame,
    group_col: str,
    k: int = 5,
    salt: str = "",
    out_col: str = "fold",
) -> DataFrame:
    """Group-aware k-fold assignment: every row of one group lands in the

    same fold, so near-duplicate families (pre-grouped by source, domain,
    or cluster id) never straddle a train/eval fold boundary — the
    cross-validation analogue of the split-leakage rule. Fold id is a
    deterministic function of the group KEY alone (engine-portable char
    fold, :func:`_poly_hash_sql`): stable across runs,
    partitionings, and row order, and reproducible by any engine. Map-only
    — no shuffle; at 100 TB this is a free column append.

    A NULL group key folds as the empty string: NULL-group rows all land
    together in one deterministic fold (sharing it with a ''-named group,
    if one exists) — never a NULL fold that a ``fold == i`` split would
    silently drop from both sides.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    key = (
        f"concat(coalesce(CAST(`{group_col}` AS STRING), ''), "
        f"{sql_literal(salt)})"
    )
    return df.withColumn(
        out_col, F.expr(f"CAST({_poly_hash_sql(key)} % {k} AS INT)")
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    coverage_pct: int = 90,
) -> DataFrame:
    """Zipf coverage prefix: the smallest top-frequency vocabulary that

    covers ``coverage_pct`` percent of the corpus token mass — the table
    a tokenizer-budget decision starts from (how many types do we need
    before <unk> mass drops below 10%?). One word-count aggregate
    (map-side combined), then rank/cumsum windows over the VOCABULARY —
    bounded by type count, not corpus size, and integer-exact so the
    prefix cut is engine-portable (``100*cum_before < pct*total`` in
    int64, no float thresholds).

    Output: the covering prefix, one row per kept word —
    (rank, word, n, cum_n) ordered by rank.

    Scale note: the global rank window is a single-task sort over the
    type histogram (10M types ≈ 100 MB — fine); the corpus itself is
    never globally sorted.
    """
    from pyspark.sql import Window as W

    wc = word_counts(df, text_col=text_col)  # (word, n)
    order = [F.col("n").desc(), F.col("word").asc()]
    w = W.orderBy(*order).rowsBetween(W.unboundedPreceding, 0)
    total = wc.agg(F.sum("n").alias("_tot"))
    ranked = wc.crossJoin(F.broadcast(total)).select(
        F.row_number().over(W.orderBy(*order)).alias("rank"),
        "word",
        "n",
        F.sum("n").over(w).alias("cum_n"),
        F.col("_tot"),
    )
    kept = ranked.where(
        (F.col("cum_n") - F.col("n")) * 100 < F.col("_tot") * coverage_pct
    )
    return kept.select("rank", "word", "n", "cum_n").orderBy("rank")


def length_bucket_report(
    df: DataFrame,
    text_col: str = "text",
    bucket: int = 64,
    cap: int = 1024,
) -> DataFrame:
    """Padding-efficiency report for length-bucketed batch packing: each

    document is assigned the smallest multiple-of-``bucket`` sequence
    length that holds its (whitespace-)token count, capped at ``cap``
    (over-cap documents are counted as truncated to ``cap`` tokens).
    The report says, per bucket, how many pad tokens a dataloader that
    batches by bucket would burn — the quantitative basis for choosing
    bucket granularity vs a single max-length bucket. One map-only
    column append + one hash aggregate over ≤ cap/bucket keys; all
    integer arithmetic, so the efficiency ratio is an exact int/int
    division on both engines.

    Output: (bucket_len, n_docs, n_tokens, n_pad, efficiency) ordered
    by bucket_len.
    """
    if bucket <= 0 or cap < bucket or cap % bucket != 0:
        raise ValueError(
            f"cap ({cap}) must be a positive multiple of bucket ({bucket})"
        )
    toks = _ws_token_count(text_col)
    eff_toks = F.least(toks, F.lit(cap).cast("long"))
    blen = F.greatest(
        F.floor((eff_toks + (bucket - 1)) / bucket) * bucket, F.lit(bucket).cast("long")
    )
    per = (
        df.select(eff_toks.alias("_t"), blen.alias("bucket_len"))
        .groupBy("bucket_len")
        .agg(F.count("*").alias("n_docs"), F.sum("_t").alias("n_tokens"))
    )
    padded = F.col("bucket_len") * F.col("n_docs")
    return per.select(
        "bucket_len",
        "n_docs",
        "n_tokens",
        (padded - F.col("n_tokens")).alias("n_pad"),
        (F.col("n_tokens") / padded).alias("efficiency"),
    ).orderBy("bucket_len")

def preference_pairs(
    df: DataFrame,
    group_col: str,
    id_col: str,
    score_col: str,
    margin: float = 0.0,
) -> DataFrame:
    """Preference-pair construction for reward-model / DPO training
    (public recipe): within each group (a prompt, a user, a task), rank
    the candidate responses by score and pair the i-th best with the
    i-th worst — top-vs-bottom "mirror" pairing, the standard way to
    turn pointwise scores into (chosen, rejected) training rows with
    the largest usable score gaps.  Pairs whose gap falls below
    ``margin`` are dropped (near-ties teach nothing and label noise
    dominates them).

    Deterministic: rank order is (score DESC, id ASC) — a total order.
    NULL scores are excluded up front (no preference signal), as are
    NULL groups (no pairing context).  A group of n candidates yields
    floor(n/2) candidate pairs (rank i pairs with rank n+1-i for
    i <= n/2; the middle element of an odd group sits out), minus any
    cut by the margin.

    Scale shape: one window shuffle on the group key ranks candidates;
    the mirror pairing is a (group, rank) equi-join of the ranked frame
    with itself — same key, candidate-set-sized, no cross join.  At
    100 TB the heavy column (response text) can be joined back by id
    afterwards; this operator ships only (group, id, score) rows.

    Output: (group, pair_rank, chosen_id, rejected_id, chosen_score,
    rejected_score, gap) — gap rounded to 6.
    """
    from pyspark.sql import Window as W

    base = df.where(
        F.col(score_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("_id"),
        F.col(score_col).cast("double").alias("_score"),
    )
    w = W.partitionBy("grp").orderBy(F.col("_score").desc(), F.col("_id").asc())
    ranked = base.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count("*").over(W.partitionBy("grp"))
    )
    chosen = ranked.where(F.col("_rn") * 2 <= F.col("_n")).select(
        "grp",
        F.col("_rn").alias("pair_rank"),
        F.col("_id").alias("chosen_id"),
        F.col("_score").alias("chosen_score"),
        (F.col("_n") + 1 - F.col("_rn")).alias("_prn"),
    )
    rejected = ranked.select(
        "grp",
        F.col("_rn").alias("_prn"),
        F.col("_id").alias("rejected_id"),
        F.col("_score").alias("rejected_score"),
    )
    pairs = chosen.join(rejected, ["grp", "_prn"]).where(
        F.col("chosen_score") - F.col("rejected_score") >= margin
    )
    return pairs.select(
        "grp",
        "pair_rank",
        "chosen_id",
        "rejected_id",
        "chosen_score",
        "rejected_score",
        F.round(F.col("chosen_score") - F.col("rejected_score"), 6).alias(
            "gap"
        ),
    )

def curriculum_report(
    df: DataFrame,
    group_col: str,
    id_col: str,
    difficulty_col: str,
    phases: int = 4,
) -> DataFrame:
    """Curriculum phase assignment report (public recipe — order
    training data easy→hard and feed it in phases): within each group
    (source/language, so no single global sort), rank rows by the
    difficulty score and split them into ``phases`` equal NTILE buckets;
    report each phase's size and difficulty span — the table a
    curriculum schedule is reviewed on before the per-row phase column
    ships to the sampler.

    Deterministic: the NTILE order is the total order (difficulty ASC,
    id ASC); NTILE itself is the SQL-standard split (larger buckets
    first), identical across engines.  NULL difficulties carry no
    ordering signal and are excluded up front (counted nowhere — a
    curriculum cannot place them).

    Scale shape: one window shuffle on the group key (per-group sort,
    never global), then a (group, phase)-bounded aggregate on the same
    partitioning.

    Output: (grp, phase, n_docs, d_min, d_max) ordered by (grp, phase).
    """
    from pyspark.sql import Window as W

    if phases <= 0:
        raise ValueError(f"curriculum_report: phases > 0, got {phases}")
    base = df.where(
        F.col(difficulty_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("_id"),
        F.col(difficulty_col).cast("double").alias("_d"),
    )
    w = W.partitionBy("grp").orderBy(F.col("_d").asc(), F.col("_id").asc())
    tiled = base.withColumn("phase", F.ntile(phases).over(w))
    return (
        tiled.groupBy("grp", "phase")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("_d").alias("d_min"),
            F.max("_d").alias("d_max"),
        )
        .orderBy("grp", "phase")
    )

def future_event_labels(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    horizon_seconds: int,
) -> DataFrame:
    """Churn/retention label construction (public recipe — the label-
    building step of a churn model's training pipeline): for every
    event, did the same key produce ANOTHER event within the horizon?
    ``label`` = 'returned' / 'churned', with honest RIGHT-CENSORING: a
    return OBSERVED within the horizon is 'returned' no matter where
    the horizon ends (the label is knowable — censoring it would
    systematically discard boundary positives and bias the retained
    distribution); only an event with NO observed return whose horizon
    extends past the end of observed data is 'censored' — it cannot
    distinguish churn from not-yet-seen.  'churned' is reserved for a
    horizon that closed inside the data with no return.  (A three-value
    STRING, not a nullable boolean: pandas renders a NULL boolean as
    None on one engine and NaN on the other, so nullable booleans are
    not an oracle-comparable output type.)

    Timestamps compare as integer epoch seconds (exact); the
    observation end is the corpus max timestamp, attached as a
    broadcast one-row aggregate.

    Scale shape: one window shuffle on the key (lead), one full-scan
    max to a single row, one broadcast join.  NULL keys/timestamps
    cannot be labeled and are excluded.

    Output: (key, id, ts, label) — row per input event.
    """
    if horizon_seconds <= 0:
        raise ValueError(
            f"future_event_labels: horizon_seconds > 0, got {horizon_seconds}"
        )
    from pyspark.sql import Window as W

    base = df.where(
        F.col(key_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(key_col).alias("key"),
        F.col(id_col).alias("id"),
        F.col(ts_col).alias("ts"),
        F.col(ts_col).cast("long").alias("_es"),
    )
    w = W.partitionBy("key").orderBy(F.col("_es").asc(), F.col("id").asc())
    nxt = base.withColumn("_next_es", F.lead("_es").over(w))
    end = base.agg(F.max("_es").alias("_end"))
    labeled = nxt.crossJoin(F.broadcast(end))
    censored = F.col("_es") + horizon_seconds > F.col("_end")
    returned = F.coalesce(
        F.col("_next_es") - F.col("_es") <= horizon_seconds,
        F.lit(False),
    )
    label = (
        F.when(returned, F.lit("returned"))
        .when(censored, F.lit("censored"))
        .otherwise(F.lit("churned"))
    )
    return labeled.select("key", "id", "ts", label.alias("label"))
