"""Data-quality audit operators — expectations over lake tables.

The reference's only quality gate was a model-accuracy task
(reference mvp_pipe.py:65-68); a production corpus pipeline also needs
*data* validation: constraint violation counts, null rates, referential
orphans. All three are single-pass conditional aggregations or anti
joins — they run at full scale as cheaply as any other aggregate, and
their outputs are audit-table sized (one row per check).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _ident(name: str) -> str:
    """Backtick-quote an identifier for interpolation into selectExpr —
    caller-supplied column/check names are data, not SQL."""
    return "`" + name.replace("`", "``") + "`"


def _slit(name: str) -> str:
    """Single-quoted SQL string literal with escapes — a quote in a
    caller-supplied name must not break (or inject into) the stack."""
    return "'" + name.replace("\\", "\\\\").replace("'", "\\'") + "'"


def constraint_report(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """One row per named constraint with its violation count and the row
    total — ONE scan regardless of how many checks (conditional sums in a
    single aggregate, then an unpivot of the audit-sized result).

    ``checks`` maps a constraint name to a Column that is true when the
    row VIOLATES the constraint (nulls count as violations — an
    unevaluable constraint is not a passing one).
    """
    aggs = [
        F.sum(
            F.when(F.coalesce(cond.cast("boolean"), F.lit(True)), 1).otherwise(0)
        ).alias(name)
        for name, cond in checks.items()
    ]
    wide = df.agg(F.count("*").alias("_total"), *aggs)
    pairs = ", ".join(f"{_slit(n)}, {_ident(n)}" for n in checks)
    return wide.selectExpr(
        f"stack({len(checks)}, {pairs}) as (check_name, violations)", "_total"
    ).select(
        "check_name",
        F.col("violations").cast("bigint").alias("violations"),
        F.col("_total").cast("bigint").alias("total_rows"),
    )


def null_rates(df: DataFrame, cols: list[str]) -> DataFrame:
    """Null fraction per column, one scan (the completeness profile)."""
    wide = df.agg(
        F.count("*").alias("_total"),
        *[
            F.sum(F.col(c).isNull().cast("int")).alias(c) for c in cols
        ],
    )
    pairs = ", ".join(f"{_slit(c)}, {_ident(c)}" for c in cols)
    return wide.selectExpr(
        f"stack({len(cols)}, {pairs}) as (column_name, n_null)", "_total"
    ).select(
        "column_name",
        F.col("n_null").cast("bigint").alias("n_null"),
        F.round(F.col("n_null") / F.col("_total"), 6).alias("null_rate"),
    )


def orphan_rows(
    child: DataFrame, parent: DataFrame, fk: str, pk: str
) -> DataFrame:
    """Referential integrity: child rows whose foreign key has no parent —
    a left-anti join on the key columns only, so at scale the shuffle
    carries keys, not rows (project before joining if the child is wide).
    """
    parents = parent.select(F.col(pk).alias(fk)).distinct()
    # SQL FK semantics: a NULL foreign key is NOT a violation (MATCH
    # SIMPLE) — and the anti join would otherwise report every NULL-fk
    # row as an orphan, since NULL never equi-matches a parent
    return child.where(F.col(fk).isNotNull()).join(parents, fk, "left_anti")


def funnel_report(
    df: DataFrame, rules: list[tuple[str, Column]]
) -> DataFrame:
    """Survival funnel over an ORDERED filter chain: for each rule, how

    many rows pass it alone (``n_pass``) and how many survive every rule
    up to and including it (``n_cum``, with ``frac_cum`` of the total).
    The observability report for a scrubbing pipeline — which stage
    costs the corpus most.

    ONE scan regardless of rule count (conditional sums in a single
    aggregate, then a stack of the audit-sized wide row). NULL rule
    results count as failures on both engines.
    """
    aggs = []
    cum = F.lit(True)
    for i, (_, cond) in enumerate(rules):
        aggs.append(F.sum(cond.cast("int")).alias(f"_p{i}"))
        cum = cum & cond
        aggs.append(F.sum(cum.cast("int")).alias(f"_c{i}"))
    wide = df.agg(F.count("*").alias("_total"), *aggs)
    cells = ", ".join(
        f"{i + 1}, {_slit(name)}, _p{i}, _c{i}"
        for i, (name, _) in enumerate(rules)
    )
    return wide.selectExpr(
        f"stack({len(rules)}, {cells}) as (step, rule_name, n_pass, n_cum)",
        "_total",
    ).select(
        F.col("step").cast("bigint").alias("step"),
        "rule_name",
        F.col("n_pass").cast("bigint").alias("n_pass"),
        F.col("n_cum").cast("bigint").alias("n_cum"),
        F.round(F.col("n_cum") / F.col("_total"), 6).alias("frac_cum"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """E15 — audit what changed between two table snapshots: one row per
    key that was ``added`` (new only), ``removed`` (old only), or
    ``changed`` (present in both with different values in
    ``compare_cols``, which defaults to every non-key column both sides
    share). Unchanged keys are omitted.

    The value compare is a null-safe STRUCT equality (``eqNullSafe`` over
    one struct per side) — JVM-side column compare, no row serialization
    or hashing, NULLs equal NULLs. Plan: one full-outer shuffle join on
    the keys; both scans prune to keys + compared columns. This is the
    reference's batch-audit lineage question (O6: what did batch N do)
    answered at row granularity — the lake diff a backfill review needs.
    """
    if compare_cols is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare_cols = [c for c in shared if c not in set(keys)]
    o = old.select(
        *[F.col(k).alias(k) for k in keys],
        F.struct(*[F.col(c) for c in compare_cols]).alias("_vo"),
    )
    n = new.select(
        *[F.col(k).alias(k) for k in keys],
        F.struct(*[F.col(c) for c in compare_cols]).alias("_vn"),
    )
    joined = o.join(n, on=keys, how="full_outer")
    change = (
        F.when(F.col("_vo").isNull(), F.lit("added"))
        .when(F.col("_vn").isNull(), F.lit("removed"))
        .when(~F.col("_vo").eqNullSafe(F.col("_vn")), F.lit("changed"))
    )
    return (
        joined.withColumn("change", change)
        .where(F.col("change").isNotNull())
        .select(*keys, "change")
    )


def distribution_drift(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """Per-group corpus drift: KL(group's unigram distribution ‖ corpus

    distribution) plus the corpus-vocabulary mass the group covers — the
    mixture-monitoring audit that tells a training pipeline when one
    source's language shifts away from the blend it was weighted for.

    Plan: one (group, word) count shuffle; per-group totals and the
    corpus totals both reduce FROM the already-aggregated counts (no
    second scan); group totals broadcast.  KL is finite without
    smoothing because every group word exists in the corpus.  Per-word
    double terms are cast to decimal before summing so the result is
    independent of aggregation order — reproducible on any partitioning
    (and in the SQL oracle) bit-for-bit.
    """
    from dataengineer_spark.operators.preparation import explode_words

    words = explode_words(df.select(group_col, text_col), text_col)
    # gw feeds four consumers (terms, group totals, word totals, corpus
    # total) whose per-branch column pruning defeats ReuseExchange —
    # cut the vocab-sized reduction so the explode+count runs once
    # (the dedup.py candidate-set convention); lazy, blocks free on GC
    from dataengineer_spark.tuning import lineage_cut

    gw = lineage_cut(
        words.groupBy(group_col, "word").agg(F.count("*").alias("c_gw")),
        eager=False,
        serialized=True,  # vocab x group sized
    )
    g_tot = gw.groupBy(group_col).agg(F.sum("c_gw").alias("n_g"))
    w_tot = gw.groupBy("word").agg(F.sum("c_gw").alias("c_w"))
    n_tot = gw.select(F.sum("c_gw").alias("n"))
    p_g = F.col("c_gw") / F.col("n_g")
    p_c = F.col("c_w") / F.col("n")
    term_kl = (p_g * F.log(p_g / p_c)).cast("decimal(28,18)")
    term_cov = p_c.cast("decimal(28,18)")
    return (
        gw.join(F.broadcast(g_tot), group_col)
        .join(w_tot, "word")
        .crossJoin(F.broadcast(n_tot))
        .groupBy(group_col)
        .agg(
            F.first("n_g").alias("n_words"),
            F.round(F.sum(term_kl).cast("double"), 6).alias("kl_divergence"),
            F.round(F.sum(term_cov).cast("double"), 6).alias("vocab_coverage"),
        )
    )


def table_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column statistics in ONE scan: row/null counts, numeric

    min/max, exact and approximate (HLL++) distinct counts — the ANALYZE
    step whose output feeds ``layout.zorder_value(ranges=...)``, mixture
    planning, and broadcast-vs-shuffle decisions without re-scanning.
    Numeric min/max are emitted as doubles (string columns profile NULL
    there — cross-engine float-to-string formatting is not portable, so
    the profile never stringifies numbers).  Output is column-count-sized.
    """
    from pyspark.sql import types as T

    numeric = {
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.NumericType,))
    }
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"_nulls_{c}"),
            F.count_distinct(F.col(c)).alias(f"_ndv_{c}"),
            F.approx_count_distinct(F.col(c), 0.05).alias(f"_andv_{c}"),
        ]
        if c in numeric:
            aggs += [
                F.min(F.col(c)).cast("double").alias(f"_min_{c}"),
                F.max(F.col(c)).cast("double").alias(f"_max_{c}"),
            ]
    # ONE job; the aggregate result is a single row (control-plane) — a
    # union of per-column selects over the lazy agg would recompute the
    # full-scan aggregate once per column (no ReuseExchange across
    # differently-pruned branches), so collect it and pivot driver-side
    row = df.agg(*aggs).first()
    out_rows = []
    for c in cols:
        ndv = row[f"_ndv_{c}"]
        est_ok = abs(row[f"_andv_{c}"] - ndv) <= max(2.0, ndv * 0.15)
        out_rows.append(
            (
                c,
                row["_n"],
                row[f"_nulls_{c}"],
                float(row[f"_min_{c}"]) if c in numeric and row[f"_min_{c}"] is not None else None,
                float(row[f"_max_{c}"]) if c in numeric and row[f"_max_{c}"] is not None else None,
                ndv,
                bool(est_ok),
            )
        )
    return df.sparkSession.createDataFrame(
        out_rows,
        "column string, n_rows long, n_nulls long, min_val double, "
        "max_val double, n_distinct long, ndv_est_ok boolean",
    )


def key_skew_report(df: DataFrame, keys: list[str], top_n: int = 20) -> DataFrame:
    """Partition-skew diagnostic: the top-N heaviest key groups with

    their share of total rows — the table you read before deciding
    whether a join needs salting / AQE skew handling.  One hash
    aggregate to per-key counts (map-side combined), a TakeOrdered
    top-N (each partition keeps N rows, driver merges N·p — no global
    sort), totals ride as a one-row broadcast.  Integer counts → shares
    are exact rationals, engine-portable after rounding.

    Output: (rank, key cols…, n, share, cum_share) for the N heaviest
    keys, rank 1 = heaviest (ties broken by the key columns ascending
    so the report is deterministic).
    """
    from pyspark.sql import Window as W

    counts = df.groupBy(*keys).agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("_tot"))
    order = [F.col("n").desc()] + [F.col(k).asc() for k in keys]
    top = counts.orderBy(*order).limit(top_n)
    w = W.orderBy(*order).rowsBetween(W.unboundedPreceding, 0)
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.row_number().over(W.orderBy(*order)).alias("rank"),
            *keys,
            "n",
            F.round(F.col("n") / F.col("_tot"), 6).alias("share"),
            F.round(F.sum("n").over(w) / F.col("_tot"), 6).alias("cum_share"),
        )
    )


def duplication_profile(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus duplication census — the before/after-dedup report card:

    how many content clusters exist at each multiplicity, and what share
    of the corpus each multiplicity band holds.  Reading it tells you
    the dedup yield in advance (sum over (size-1)·n_clusters rows would
    be removed) and whether duplication is a few mega-clusters (boiler-
    plate/templates → dup-span treatment) or a long tail of pairs
    (crawl recrawls → plain content dedup).

    Scale shape: one full-text-hash shuffle to per-cluster sizes
    (map-side combined), then a second aggregate on the SIZE axis whose
    cardinality is bounded by max multiplicity — the output is a
    histogram, never row-scale.  Integer counts throughout → shares are
    exact rationals, engine-portable after rounding.

    Output: (cluster_size, n_clusters, n_docs, pct_docs) ordered by
    cluster_size.
    """
    sizes = df.groupBy(
        F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256).alias("_h")
    ).agg(F.count("*").alias("_sz"))
    hist = sizes.groupBy(F.col("_sz").alias("cluster_size")).agg(
        F.count("*").alias("n_clusters"),
        F.sum("_sz").alias("n_docs"),
    )
    total = hist.agg(F.sum("n_docs").alias("_tot"))
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            "cluster_size",
            "n_clusters",
            "n_docs",
            F.round(F.col("n_docs") / F.col("_tot"), 6).alias("pct_docs"),
        )
        .orderBy("cluster_size")
    )


def cross_source_dup_matrix(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Provenance-overlap matrix: for every pair of sources, how many

    distinct document contents they share — the table that catches a
    mirrored crawl, a vendor reselling another vendor's dump, or a
    pipeline double-ingesting one feed under two names. Shape: one
    (source, content-key) distinct (map-side combined), one self-equi-
    join ON THE CONTENT KEY (bounded by per-content source fan-out,
    never source²·docs), one count aggregate over <= |sources|² keys.
    The join key is xxhash64 of the text, so the shuffle ships 8-byte
    keys; the counts equal a raw-text join's (up to a 2⁻⁶⁴ collision).

    Output: (source_a, source_b, n_shared) with source_a < source_b,
    only pairs that share at least one content. NULL contents are
    excluded (xxhash64(NULL) is the seed constant — a valid join key —
    so without the filter every NULL-bearing source pair would count as
    sharing a phantom document).
    """
    per = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(group_col).alias("_src"), F.xxhash64(text_col).alias("_k")
        )
        .dropDuplicates()
    )
    a = per.select(F.col("_src").alias("source_a"), "_k")
    b = per.select(F.col("_src").alias("source_b"), "_k")
    return (
        a.join(b, "_k")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )


def corpus_datacard(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    source_col: str = "source",
) -> DataFrame:
    """One-scan corpus data card (E15): the headline numbers a dataset

    release documents — volume (docs, whitespace tokens), provenance
    breadth (distinct languages/sources), and exact-duplication rate
    (1 - distinct contents / docs). ONE hash aggregate over the corpus
    (distincts are Catalyst two-phase expands of the same scan), then a
    constant-width unpivot to (metric, value) rows; every value is an
    exact int64 count or a single int/int division, so the card is
    engine-portable with no rounding step.

    Output: (metric, value) — metrics: n_docs, n_text_docs, n_tokens,
    n_langs, n_sources, n_distinct_texts, dup_rate, tokens_per_doc.
    dup_rate is defined over the docs that HAVE text (countDistinct
    skips NULLs, so dividing by all rows would count every NULL-text
    doc as a duplicate — the inflated number a release-notes card must
    not print); NULL-text volume is visible as n_docs - n_text_docs.
    """
    from dataengineer_spark.operators.preparation import _ws_token_count

    agg = df.agg(
        F.count("*").alias("n_docs"),
        F.count(F.col(text_col)).alias("n_text_docs"),
        F.sum(_ws_token_count(text_col)).alias("n_tokens"),
        F.countDistinct(lang_col).alias("n_langs"),
        F.countDistinct(source_col).alias("n_sources"),
        F.countDistinct(text_col).alias("n_distinct_texts"),
    )
    wide = agg.select(
        F.col("n_docs").cast("double").alias("n_docs"),
        F.col("n_text_docs").cast("double").alias("n_text_docs"),
        F.col("n_tokens").cast("double").alias("n_tokens"),
        F.col("n_langs").cast("double").alias("n_langs"),
        F.col("n_sources").cast("double").alias("n_sources"),
        F.col("n_distinct_texts").cast("double").alias("n_distinct_texts"),
        F.when(
            F.col("n_text_docs") > 0,
            1 - F.col("n_distinct_texts") / F.col("n_text_docs"),
        ).alias("dup_rate"),
        F.when(
            F.col("n_docs") > 0, F.col("n_tokens") / F.col("n_docs")
        ).alias("tokens_per_doc"),
    )
    cols = wide.columns
    stack = ", ".join(f"'{c}', {c}" for c in cols)
    return wide.selectExpr(
        f"stack({len(cols)}, {stack}) as (metric, value)"
    )


def mad_outlier_report(
    df: DataFrame,
    keys: list[str],
    col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier census via median/MAD — the outlier rule

    that survives the outliers themselves (mean/stddev z-scores are
    dragged by the very rows they should flag; median and MAD have 50%
    breakdown). Two exact interpolated-percentile passes (the
    :func:`~dataengineer_spark.operators.aggregates.percentiles`
    machinery: per-group rank-pick sums, one window shuffle each) and a
    final conditional count; the flag compares |x - median| > k·MAD on
    the UNROUNDED doubles, so the census is engine-portable. A group
    where >= 50% of values tie has MAD 0 — every non-median value is
    then flagged (the standard MAD caveat; the report carries mad so a
    consumer sees the degenerate scale).

    Output: (keys..., n, median_val, mad, n_outliers) — median/mad
    rounded for display, the flag computed pre-rounding.
    """
    from dataengineer_spark.operators.aggregates import percentiles

    med = percentiles(df.select(*keys, col), keys, col, [0.5]).select(
        *keys, F.col("p50").alias("_med")
    )
    # LEFT joins: a group whose values are all NULL has no percentile
    # row, but the census must still report it (n counted, NULL
    # median/mad, 0 outliers) — an inner join would silently lose it
    dev = df.join(F.broadcast(med), keys, "left").select(
        *keys, F.col("_med"),
        F.abs(F.col(col) - F.col("_med")).alias("_dev"),
    )
    mad = percentiles(dev.select(*keys, "_dev"), keys, "_dev", [0.5]).select(
        *keys, F.col("p50").alias("_mad")
    )
    flagged = dev.join(F.broadcast(mad), keys, "left")
    return (
        flagged.groupBy(*keys)
        .agg(
            F.count("*").alias("n"),
            F.round(F.max("_med"), 4).alias("median_val"),
            F.round(F.max("_mad"), 4).alias("mad"),
            F.sum(
                F.when(F.col("_dev") > F.lit(k) * F.col("_mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy(*keys)
    )

#: power-of-ten ladder bounds for :func:`benford_audit` — positive
#: doubles from 1e-6 up to 1e15 get a first significant digit without
#: any transcendental (log10 parity across libm builds is not pinned;
#: comparisons and divisions against shared literals are IEEE-exact)
_BENFORD_POWS = [10.0 ** k for k in range(14, -7, -1)]


def benford_audit(df: DataFrame, col: str) -> DataFrame:
    """First-significant-digit audit against Benford's law (public
    method — the standard screen for fabricated or truncated monetary /
    count data; a synthetic generator that draws uniforms fails it
    loudly, which is itself worth knowing about a corpus).

    The first digit comes from a CASE ladder over plan-literal powers
    of ten (largest power <= x, digit = floor(x / power)) — every
    comparison and division is IEEE-defined on shared literals, so both
    engines agree bit-for-bit; no log10, no double→string parity bets.
    Non-positive, NULL, and out-of-ladder (< 1e-6 or >= 1e15) values
    are excluded and tallied in the ``n_skipped`` column (never
    silently dropped).

    Scale shape: ONE global conditional aggregate folds the whole scan
    to a single row — a 9-element count array (one conditional sum per
    digit, partials map-side) plus the skipped tally — and the 9 output
    rows posexplode from it with the total derived by an array fold; no
    joins, no second aggregate over the source (VERDICT r8 item 7: the
    former digit-groupBy + dim-join + totals-join shape was 6 exchanges
    for what is one scan plus 9 literal rows; this is 2 — the global
    agg and the final 9-row sort).

    Output: one row per digit 1-9 (digits absent from the data keep a
    row with n = 0): (digit, n, n_skipped, observed_p, expected_p,
    chi2_term), shares rounded to 6.
    """
    import math

    x = F.col(col).cast("double")
    in_range = x.isNotNull() & (x >= 1e-6) & (x < 1e15)
    scale = None
    for p in _BENFORD_POWS:
        cond = x >= p
        scale = F.when(cond, p) if scale is None else scale.when(cond, p)
    raw_digit = F.floor(x / scale).cast("int")
    # a double a hair below a power of ten can DIVIDE past it
    # (9.999999999999999e-06 / 1e-06 rounds to exactly 10.0), yielding
    # digit 10 — such rows must land in n_skipped, not vanish from both
    # tallies (review-caught contract break)
    valid = in_range & raw_digit.between(1, 9)
    tagged = df.select(
        F.when(valid, raw_digit).alias("digit"),
        F.when(valid, 0).otherwise(1).alias("_skip"),
    )
    # one row: [n_digit_1..n_digit_9], n_skipped (sums are NULL on an
    # empty scan — coalesce keeps the 9 zero-count rows contract)
    one = tagged.agg(
        F.array(*[
            F.coalesce(
                F.sum(F.when(F.col("digit") == d, 1).otherwise(0)), F.lit(0)
            ).cast("bigint")
            for d in range(1, 10)
        ]).alias("_ns"),
        F.coalesce(F.sum("_skip"), F.lit(0)).cast("bigint").alias("n_skipped"),
    ).select(
        "_ns",
        "n_skipped",
        F.aggregate(
            "_ns", F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).cast("double").alias("_td"),
    )
    expected = F.array(
        *[F.lit(math.log10(1.0 + 1.0 / d)) for d in range(1, 10)]
    )
    out = one.select(
        F.posexplode("_ns").alias("_i", "n"), "n_skipped", "_td"
    ).select(
        (F.col("_i") + 1).cast("int").alias("digit"),
        "n",
        "n_skipped",
        F.element_at(expected, (F.col("_i") + 1).cast("int")).alias("_e"),
        "_td",
    )
    exp_n = F.col("_e") * F.col("_td")
    diff = F.col("n") - exp_n
    return out.select(
        "digit",
        "n",
        "n_skipped",
        F.round(
            F.when(F.col("_td") > 0, F.col("n") / F.col("_td")), 6
        ).alias("observed_p"),
        F.round(F.col("_e"), 6).alias("expected_p"),
        # diff*diff, not pow(diff, 2): pow is only 1-ulp-accurate and
        # differs across libm builds; the explicit product is IEEE-exact
        F.round(F.when(exp_n > 0, diff * diff / exp_n), 6).alias(
            "chi2_term"
        ),
    ).orderBy("digit")


def concentration_report(
    df: DataFrame,
    group_col: str,
    weight_col,
) -> DataFrame:
    """Corpus concentration audit (Gini coefficient + top-group share,
    public formulas) — the inequality read on "how much of the training
    budget comes from how few sources": a corpus where 2 of 200 domains
    carry 80% of tokens behaves very differently (dedup leverage,
    contamination blast radius, mixture sensitivity) from a flat one,
    and the data card should say which.

    Gini from the sorted-weights identity ``G = 2·Σ(i·w_i)/(n·W)
    − (n+1)/n`` with groups sorted (weight ASC, group ASC — a total
    order).  ``weight_col`` may be a column name or Column expression
    (pass the SAME token expression the budgeting oracles use);
    per-group weights are integer sums, the rank-weighted sum runs as
    DECIMAL(38,0) (exact, order-free), and the two trailing divisions
    are IEEE doubles.  NULL groups carry no provenance and are
    excluded; NULL weights count 0.

    Scale shape: one corpus aggregate to group rows, then a window +
    aggregate over the GROUP-cardinality frame (a provenance list, not
    a corpus).  Output: one row (n_groups, total_weight, gini,
    top_share), shares rounded to 6.
    """
    from pyspark.sql import Window as W

    w_expr = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    grouped = (
        df.where(F.col(group_col).isNotNull())
        .select(F.col(group_col).alias("grp"), w_expr.alias("_w"))
        .groupBy("grp")
        .agg(F.sum(F.coalesce(F.col("_w"), F.lit(0))).alias("w"))
    )
    win = W.orderBy(F.col("w").asc(), F.col("grp").asc())
    ranked = grouped.select(
        "w", F.row_number().over(win).cast("decimal(10,0)").alias("_i")
    )
    agg = ranked.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum("w").cast("decimal(28,0)").alias("_tot"),
        F.sum(F.col("_i") * F.col("w").cast("decimal(28,0)")).alias("_iw"),
        F.max("w").cast("decimal(28,0)").alias("_top"),
    )
    n = F.col("n_groups").cast("double")
    tot = F.col("_tot").cast("double")
    return agg.select(
        "n_groups",
        F.col("_tot").cast("bigint").alias("total_weight"),
        F.round(
            F.when(
                (F.col("n_groups") > 0) & (tot > 0),
                2.0 * F.col("_iw").cast("double") / (n * tot)
                - (n + 1.0) / n,
            ),
            6,
        ).alias("gini"),
        F.round(
            F.when(tot > 0, F.col("_top").cast("double") / tot), 6
        ).alias("top_share"),
    )


def functional_dependency_report(
    df: DataFrame,
    lhs_cols: list[str],
    rhs_col: str,
) -> DataFrame:
    """Functional-dependency audit (public schema-profiling method):
    does LHS determine RHS?  One row summarizing how badly the
    dependency ``lhs → rhs`` holds — the discovery/validation read
    behind "is this column safe to use as a join key / dimension
    attribute?" and the regression alarm when an upstream feed starts
    shipping conflicting attribute values for the same key.

    A violating LHS group holds >1 distinct RHS value; NULL RHS values
    count as a value of their own (a key mapping to both 7 and NULL is
    NOT a clean dependency — grouping semantics keep that honest on
    both engines).  LHS groups with any NULL component are excluded
    (SQL can't say two NULL keys are the same entity).

    Scale shape: one exact distinct-per-group aggregate (Catalyst's
    expand + two-phase), then a one-row summary.  Output:
    (n_groups, n_violating, violation_rate, max_rhs_distinct),
    rate rounded to 6.
    """
    non_null_lhs = df
    for c in lhs_cols:
        non_null_lhs = non_null_lhs.where(F.col(c).isNotNull())
    per_group = non_null_lhs.groupBy(*lhs_cols).agg(
        # count NULL as a distinct value: countDistinct skips NULLs, so
        # add an any-null indicator to the distinct tally
        (
            F.countDistinct(rhs_col)
            + F.max(F.col(rhs_col).isNull().cast("int"))
        ).alias("_nd")
    )
    # coalesce the counters: with zero usable groups (empty feed or
    # all-NULL keys — exactly when this alarm matters most) sum/max are
    # NULL and a `> 0` consumer would go quiet; rate stays NULL (0/0
    # has no honest value)
    return per_group.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.coalesce(
            F.sum((F.col("_nd") > 1).cast("int")), F.lit(0)
        ).cast("bigint").alias("n_violating"),
        F.round(
            F.when(
                F.count("*") > 0,
                F.coalesce(
                    F.sum((F.col("_nd") > 1).cast("int")), F.lit(0)
                )
                / F.count("*").cast("double"),
            ),
            6,
        ).alias("violation_rate"),
        F.coalesce(F.max("_nd"), F.lit(0)).cast("bigint").alias(
            "max_rhs_distinct"
        ),
    )


def psi_report(
    df: DataFrame,
    value_col: str,
    side_col,
    bin_edges: list[float],
    floor_share: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two cohorts of one scored
    column (public method — the industry-standard "has this score's
    distribution moved" number; PSI > 0.2 is the conventional retrain
    alarm): bin both cohorts on shared literal edges and sum
    ``(p_a − p_b)·ln(p_a/p_b)`` per bin.

    ``side_col`` is a boolean Column: true = cohort A, false = B, NULL
    = excluded (unknown provenance is neither cohort).  Binning is a
    plan-literal CASE ladder over ``bin_edges`` (shared doubles — no
    width_bucket edge-semantics bets): bin i spans [edge_{i-1},
    edge_i), with underflow bin 0 and overflow bin len(edges).  NULL
    values are excluded and reported nowhere (use null_rates for
    completeness).  Empty bins are floored at ``floor_share`` before
    the ratio (the standard smoothing — an empty bin would make PSI
    infinite); ln parity follows the KL-drift precedent (identical
    IEEE inputs, rounded outputs).

    Scale shape: ONE conditional-aggregate scan to (bins+2) rows, a
    literal bin frame left-joined so every bin keeps a row, one
    broadcast totals row.  Output: (bin, n_a, n_b, p_a, p_b, psi_term)
    ordered by bin; shares and terms rounded to 6.  Total PSI =
    sum(psi_term).
    """
    if not bin_edges or any(
        a >= b for a, b in zip(bin_edges, bin_edges[1:])
    ):
        raise ValueError(
            "psi_report: bin_edges must be STRICTLY ascending and "
            "non-empty — a duplicate edge creates an unreachable bin "
            "indistinguishable from a genuinely empty one"
        )
    x = F.col(value_col).cast("double")
    bin_expr = None
    for i, e in enumerate(bin_edges):
        cond = x < e
        bin_expr = (
            F.when(cond, i) if bin_expr is None else bin_expr.when(cond, i)
        )
    bin_expr = bin_expr.otherwise(len(bin_edges))
    tagged = df.where(x.isNotNull() & side_col.isNotNull()).select(
        bin_expr.alias("bin"),
        side_col.cast("int").alias("_a"),
    )
    counts = tagged.groupBy("bin").agg(
        F.sum("_a").cast("bigint").alias("n_a"),
        F.sum(F.lit(1) - F.col("_a")).cast("bigint").alias("n_b"),
    )
    bins = df.sparkSession.range(0, len(bin_edges) + 1).select(
        F.col("id").cast("int").alias("bin")
    )
    filled = bins.join(counts, "bin", "left").select(
        "bin",
        F.coalesce("n_a", F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_b"),
    )
    totals = filled.agg(
        F.sum("n_a").cast("double").alias("_ta"),
        F.sum("n_b").cast("double").alias("_tb"),
    )
    joined = filled.crossJoin(F.broadcast(totals))
    pa = F.greatest(
        F.when(F.col("_ta") > 0, F.col("n_a") / F.col("_ta")).otherwise(
            F.lit(0.0)
        ),
        F.lit(floor_share),
    )
    pb = F.greatest(
        F.when(F.col("_tb") > 0, F.col("n_b") / F.col("_tb")).otherwise(
            F.lit(0.0)
        ),
        F.lit(floor_share),
    )
    return joined.select(
        "bin",
        "n_a",
        "n_b",
        F.round(pa, 6).alias("p_a"),
        F.round(pb, 6).alias("p_b"),
        F.round((pa - pb) * F.log(pa / pb), 6).alias("psi_term"),
    ).orderBy("bin")


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """k-anonymity risk census over a quasi-identifier combination
    (public privacy metric — the release-review read before training
    data or analytics extracts leave a trust boundary): rows whose
    quasi-identifier equivalence class holds fewer than ``k`` members
    are re-identification candidates.

    NULL quasi-identifier components form their own classes (SQL
    grouping semantics — two all-NULL rows ARE indistinguishable to an
    attacker, which is what matters here, so they are NOT excluded the
    way join keys would be).

    Scale shape: one exact group-size aggregate on the quasi columns,
    then a one-row summary over the class-cardinality frame.  Output:
    (n_rows, n_classes, n_small_classes, rows_at_risk, min_class_size,
    risk_share) — risk_share rounded to 6.  On EMPTY input the
    count-like outputs coalesce to 0 rather than NULL (the
    functional_dependency_report contract: an ``n_small_classes > 0``
    consumer would otherwise go quiet); min_class_size and risk_share
    stay NULL — there is no minimum or share of nothing.
    """
    if k <= 1:
        raise ValueError(f"k_anonymity_report: k > 1 required, got {k}")
    sizes = df.groupBy(*quasi_cols).agg(F.count("*").alias("_n"))
    return sizes.agg(
        F.coalesce(F.sum("_n"), F.lit(0)).cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_classes"),
        F.coalesce(F.sum((F.col("_n") < k).cast("int")), F.lit(0))
        .cast("bigint")
        .alias("n_small_classes"),
        F.coalesce(
            F.sum(F.when(F.col("_n") < k, F.col("_n")).otherwise(0)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("rows_at_risk"),
        F.min("_n").cast("bigint").alias("min_class_size"),
        F.round(
            F.sum(F.when(F.col("_n") < k, F.col("_n")).otherwise(0))
            / F.sum("_n").cast("double"),
            6,
        ).alias("risk_share"),
    )
