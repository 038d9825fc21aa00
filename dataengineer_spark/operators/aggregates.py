"""Aggregations, sorts, set ops (A1, A2, E5, E7, E8).

The reference's whole aggregate surface was one scalar accuracy metric
(``model_accuracy``, reference mvp_pipe.py:65-68) — everything else here is
capability the engine adds on stock Spark (SURVEY.md §2.6 note). All
aggregations are hash aggregates with map-side partial combine; rollup/cube
expand grouping sets in one shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataengineer_spark.tuning import lineage_cut


def accuracy(df: DataFrame, pred_col: str, truth_col: str) -> DataFrame:
    """A1 — fraction of rows where prediction equals truth.

    Single scalar aggregate; nulls compare unequal (counted as miss) via
    null-safe equality so an all-null batch still yields a defined number.
    """
    hit = F.col(pred_col).eqNullSafe(F.col(truth_col)).cast("double")
    return df.agg(F.avg(hit).alias("accuracy"))


def _rank_sum_auc(
    df: DataFrame,
    keys: list[str],
    score_col: str,
    label_col: Column,
) -> DataFrame:
    """THE Mann-Whitney rank-sum core shared by :func:`roc_auc` and
    :func:`roc_auc_by` — per-distinct-score (n_pos, n_neg) counts, the
    cumulative-negatives-below window over the (optionally partitioned)
    distinct-score axis, and the ``2·np·cum + np·nn`` tie-half-credit
    identity, in ONE definition so the two AUC paths cannot drift.

    NULL labels (unknown truth) and NULL scores (unrankable — engines
    disagree on where NULL sorts, so they must contribute no pairs)
    are excluded.  The doubled pair count accumulates as DECIMAL so a
    hot score bucket cannot silently wrap an int64 where an oracle's
    BIGINT multiply would instead throw.

    Returns one row per key group: (keys..., _n2 DECIMAL, n_pos,
    n_neg BIGINT).
    """
    from pyspark.sql import Window as W

    dec = "decimal(18,0)"
    per_score = (
        df.where(label_col.isNotNull() & F.col(score_col).isNotNull())
        .select(
            *keys,
            F.col(score_col).alias("_s"),
            label_col.cast("int").alias("_y"),
        )
        .groupBy(*keys, "_s")
        .agg(
            F.sum("_y").cast(dec).alias("_np"),
            F.sum(F.lit(1) - F.col("_y")).cast(dec).alias("_nn"),
        )
    )
    w = (
        W.partitionBy(*keys)
        .orderBy(F.col("_s").asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    # 2 * (pairs where pos > neg) + (tied pairs) — stays integral
    paired = per_score.select(
        *keys,
        (
            2 * F.col("_np")
            * F.coalesce(F.sum("_nn").over(w), F.lit(0).cast(dec))
            + F.col("_np") * F.col("_nn")
        ).alias("_num2"),
        "_np",
        "_nn",
    )
    return paired.groupBy(*keys).agg(
        F.sum("_num2").alias("_n2"),
        F.sum("_np").cast("bigint").alias("n_pos"),
        F.sum("_nn").cast("bigint").alias("n_neg"),
    )


def roc_auc(df: DataFrame, score_col: str, label_col: Column) -> DataFrame:
    """A1-family — exact ROC AUC via the Mann-Whitney rank-sum identity,

    computed WITHOUT a global sort of the rows (shared core:
    :func:`_rank_sum_auc`): scores reduce to per-distinct-score counts
    (one hash aggregate with map-side combine), a single window over
    the distinct-score axis accumulates negatives-below, and ties get
    half-credit.  Pair counts are integral (DECIMAL accumulation — no
    silent int64 wrap), so the result is an exact rational; NULL scores
    and labels contribute no pairs; a one-class input has no defined
    AUC and reports NULL, never a division artifact.

    The only non-distributed step is the window over DISTINCT scores,
    whose cardinality is bounded by score precision (round scores
    upstream to cap it), not by row count — at 100 TB a 6-digit score
    axis is ≤2M rows on one partition, vs a global sort of the data.

    Output: one row (auc, n_pos, n_neg).
    """
    agg = _rank_sum_auc(df, [], score_col, label_col)
    return agg.select(
        F.round(
            F.when(
                (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
                F.col("_n2").cast("double")
                / (2.0 * F.col("n_pos") * F.col("n_neg")),
            ),
            6,
        ).alias("auc"),
        "n_pos",
        "n_neg",
    )


def group_agg(df: DataFrame, keys: list[str], aggs: list[Column]) -> DataFrame:
    """E5 — hash aggregate with named output columns."""
    return df.groupBy(*keys).agg(*aggs)


def rollup_agg(df: DataFrame, keys: list[str], aggs: list[Column]) -> DataFrame:
    """E5 — hierarchical subtotals (grouping sets prefix chain)."""
    return df.rollup(*keys).agg(*aggs)


def cube_agg(df: DataFrame, keys: list[str], aggs: list[Column]) -> DataFrame:
    """E5 — all grouping-set combinations."""
    return df.cube(*keys).agg(*aggs)


def grouping_sets_agg(
    df: DataFrame, sets: list[list[str]], keys: list[str], aggs: list[Column]
) -> DataFrame:
    """E5 — explicit grouping sets: only the requested combinations are

    expanded (rollup/cube are special cases), one Expand + one shuffle."""
    col_sets = [[F.col(c) for c in s] for s in sets]
    return df.groupingSets(col_sets, *[F.col(k) for k in keys]).agg(*aggs)


def distinct_agg(df: DataFrame, keys: list[str], col: str, out: str) -> DataFrame:
    """E5 — exact COUNT(DISTINCT col) per group (expand + two-phase agg,

    planned by Catalyst)."""
    return df.groupBy(*keys).agg(F.countDistinct(col).alias(out))


def approx_distinct_agg(
    df: DataFrame, keys: list[str], col: str, out: str, rsd: float = 0.05
) -> DataFrame:
    """E5 — HyperLogLog++ distinct estimate: one pass, fixed-size sketch,

    merge-combinable — the scale path when exact distinct's expand shuffle
    is too expensive."""
    return df.groupBy(*keys).agg(F.approx_count_distinct(col, rsd).alias(out))


def percentiles(
    df: DataFrame, keys: list[str], col: str, probs: list[float]
) -> DataFrame:
    """E5 — exact linear-interpolated percentiles per group, computed as a
    per-group sort + rank selection: each value contributes to p-th
    percentile only at ranks ``floor((n-1)p)`` / ``floor((n-1)p)+1``, so
    the aggregate is a conditional sum over the ranked rows. Measured 2×
    faster than the ``percentile`` aggregate (which merges per-distinct-
    value count maps; this shuffles once and sorts). Either exact form
    serializes a whole group through one task — at scales where a group
    outgrows a task, use ``approx_percentiles`` (below) instead."""
    from pyspark.sql import Window as W

    w = W.partitionBy(*keys).orderBy(col)
    ranked = (
        # NULLs are excluded up front (SQL percentile semantics — DuckDB and
        # percentile() ignore them); ranked first they'd absorb target ranks
        # and contribute nothing to the interpolation sum.
        df.select(*keys, col)
        .where(F.col(col).isNotNull())
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(W.partitionBy(*keys)))
    )
    aggs = []
    for p, name in zip(probs, pct_col_names(probs)):
        pos = (F.col("_n") - 1) * F.lit(p)
        lo = F.floor(pos)
        frac = pos - lo
        aggs.append(
            F.sum(
                F.when(F.col("_rn") - 1 == lo, F.col(col) * (1 - frac))
                .when(F.col("_rn") - 1 == lo + 1, F.col(col) * frac)
                .otherwise(F.lit(0.0))
            ).alias(name)
        )
    return ranked.groupBy(*keys).agg(*aggs)


def percentiles_distributed(
    df: DataFrame, keys: list[str], col: str, probs: list[float],
    n_partitions: int | None = None,
) -> DataFrame:
    """E5 — exact linear-interpolated percentiles that scale past a single
    task per group. ``percentiles`` (above) funnels each whole group
    through one sort task; here the data is range-partitioned on
    (keys, value), so each task sorts only its bounded value slice:

    1. ``repartitionByRange(keys + [col])`` → value-contiguous slices,
       checkpointed (``lineage_cut``) so both passes read one frozen
       materialization;
    2. per-(group, slice) row counts → driver (groups × slices rows —
       control-plane sized) → cumulative offsets per group;
    3. local ``row_number`` within each slice + broadcast offset = exact
       global rank, no global sort ever happens;
    4. rows at ranks ``floor((n-1)p)`` / ``+1`` (a handful per group)
       carry interpolation weights and collapse in a final tiny aggregate.

    Every window here is bounded by the slice size (`n_partitions` knob),
    not the group size — the structure that survives 3 groups × 33 TB.
    """
    from pyspark.sql import Window as W

    spark = df.sparkSession
    n_part = n_partitions or spark.sparkContext.defaultParallelism
    ranged = lineage_cut(
        df.select(*keys, col)
        .where(F.col(col).isNotNull())  # SQL percentile semantics
        .repartitionByRange(n_part, *[F.col(k) for k in keys], F.col(col))
        .withColumn("_pid", F.spark_partition_id())
        # lineage cut + one materialization: _pid must mean the same
        # partition in the counts pass and the rank pass, and AQE may
        # renumber the coalesced range partitions between jobs — the
        # checkpoint freezes the computed _pid VALUES in the data, so
        # both passes read identical assignments without round-tripping
        # the result through the driver (blocks/files are reclaimed on
        # frame GC — ContextCleaner for local blocks, cleanCheckpoints
        # for the fault-tolerant reliable branch a session checkpoint
        # dir switches on)
    )
    counts = (
        ranged.groupBy(*keys, "_pid").count().orderBy(*keys, "_pid").collect()
    )
    if not counts:
        # empty input / all-NULL col: empty result with the REAL
        # schema (createDataFrame from an empty list with name-only
        # columns cannot infer types and raises)
        fields = ", ".join(
            f"`{k}` {df.schema[k].dataType.simpleString()}" for k in keys
        )
        probs_fields = ", ".join(f"p{int(p * 100)} double" for p in probs)
        sep = ", " if fields and probs_fields else ""
        return spark.createDataFrame([], fields + sep + probs_fields)
    # cumulative offsets + totals per group (driver-side, control-plane)
    offsets: list[tuple] = []
    totals: dict[tuple, int] = {}
    for r in counts:
        g = tuple(r[k] for k in keys)
        offsets.append((*g, r["_pid"], totals.get(g, 0)))
        totals[g] = totals.get(g, 0) + r["count"]
    from dataengineer_spark.tuning import control_frame

    off_df = control_frame(
        spark, offsets, list(keys) + ["_pid", "_offset"]
    )
    # target ranks with interpolation weights per group and prob
    targets: list[tuple] = []
    for g, n in totals.items():
        for p in probs:
            pos = (n - 1) * p
            lo, frac = int(pos // 1), pos % 1
            targets.append((*g, int(p * 100), lo, 1.0 - frac))
            if frac > 0:
                targets.append((*g, int(p * 100), lo + 1, frac))
    tgt_df = control_frame(
        spark, targets, [f"_t_{k}" for k in keys] + ["_prob", "_rank", "_weight"]
    )
    local_w = W.partitionBy(*keys, "_pid").orderBy(col)
    global_rank = (
        F.row_number().over(local_w) - 1 + F.col("_offset")
    ).alias("_grank")
    cond = F.col("_grank") == F.col("_rank")
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"_t_{k}"))
    picked = (
        ranged.join(F.broadcast(off_df), [*keys, "_pid"])
        .select(*keys, col, global_rank)
        .join(F.broadcast(tgt_df), cond)
        .groupBy(*keys)
        .pivot("_prob", [int(p * 100) for p in probs])
        .agg(F.sum(F.col(col) * F.col("_weight")))
    )
    return picked.select(
        *keys,
        *[
            F.col(str(int(p * 100))).alias(name)
            for p, name in zip(probs, pct_col_names(probs))
        ],
    )


def approx_percentiles(
    df: DataFrame, keys: list[str], col: str, probs: list[float],
    accuracy: int = 10000,
) -> DataFrame:
    """E5 — approximate percentiles via ``percentile_approx`` (G-K sketch):
    fixed-size mergeable state, so groups of any size flow through normal
    partial/final aggregation — the scale path when a group outgrows the
    single task that exact ``percentiles`` funnels it through. Error is
    bounded by 1/accuracy of rank.

    ONE sketch per group, queried at every requested rank (the array
    form): the sketch's construction does not depend on ``p``, so N
    scalar ``percentile_approx`` aggs would build N identical G-K
    sketches over the same rows for identical answers.
    """
    arr = F.percentile_approx(
        F.col(col),
        F.array(*[F.lit(p) for p in probs]),
        F.lit(accuracy),
    )
    out = df.groupBy(*keys).agg(arr.alias("_p"))
    return out.select(
        *keys,
        *[
            F.element_at("_p", i + 1).alias(name)
            for i, name in enumerate(pct_col_names(probs))
        ],
    )


def pivot_agg(
    df: DataFrame, key: str, pivot_col: str, pivot_values: list[str], agg: Column
) -> DataFrame:
    """E5 — pivot with explicit value list (never let Spark scan for

    distinct pivot values on bulk data — pass them)."""
    return df.groupBy(key).pivot(pivot_col, pivot_values).agg(agg)


def unpivot(
    df: DataFrame, ids: list[str], value_cols: list[str], var_name: str, value_name: str
) -> DataFrame:
    """E5 — melt wide columns back to (var, value) rows."""
    return df.unpivot(ids, value_cols, var_name, value_name)


def top_k(df: DataFrame, order: list[Column], k: int) -> DataFrame:
    """E7 — global top-k. Spark executes orderBy+limit as TakeOrdered:

    each partition keeps k rows, the driver merges k·p rows — no full sort
    shuffle at any scale."""
    return df.orderBy(*order).limit(k)


def union_all(parts: list[DataFrame], by_name: bool = True) -> DataFrame:
    """E8 — UNION ALL; by_name resolves column order differences."""
    import functools

    if by_name:
        return functools.reduce(lambda a, b: a.unionByName(b), parts)
    return functools.reduce(lambda a, b: a.union(b), parts)


def intersect(a: DataFrame, b: DataFrame, keep_duplicates: bool = False) -> DataFrame:
    """E8 — INTERSECT [ALL]."""
    return a.intersectAll(b) if keep_duplicates else a.intersect(b)


def except_rows(a: DataFrame, b: DataFrame, keep_duplicates: bool = True) -> DataFrame:
    """E8 — EXCEPT [ALL]."""
    return a.exceptAll(b) if keep_duplicates else a.subtract(b)


def corr_stats(
    df: DataFrame, keys: list[str], x: str, y: str
) -> DataFrame:
    """E5 — Pearson correlation / sample covariance / stddev per group,
    computed from exact decimal moment sums.

    ``F.corr``/``F.covar_samp`` accumulate doubles whose partial-agg
    association order varies with partitioning, so their low bits are not
    reproducible across engines or even runs.  The moment form — n, Σx,
    Σy, Σxy, Σx², Σy² summed in decimal — is exact; the closing formulas
    run once per GROUP on scalars, so every float here is a deterministic
    function of exact integers.  Same plan shape as a plain group-agg:
    one partial agg, one exchange on the keys.

    Supported domain: |x|, |y| < 1e12, resolved at 1e-6 granularity.
    decimal(18,6) is the widest input whose square (decimal(37,12)) still
    fits Spark's 38-digit cap exactly — wider inputs would silently lose
    scale in the product and void the exactness claim.  Values outside
    the domain overflow the cast (NULL under non-ANSI, error under ANSI);
    values smaller than 1e-6 in magnitude round to zero.
    """
    xd = F.col(x).cast("decimal(18,6)")
    yd = F.col(y).cast("decimal(18,6)")
    # complete pairs only (standard corr/regr semantics): count(*) over
    # rows with a NULL x or y would disagree with the NULL-skipping
    # moment sums and silently corrupt every statistic
    df = df.where(F.col(x).isNotNull() & F.col(y).isNotNull())
    m = df.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.sum(xd).cast("double").alias("_sx"),
        F.sum(yd).cast("double").alias("_sy"),
        F.sum(xd * yd).cast("double").alias("_sxy"),
        F.sum(xd * xd).cast("double").alias("_sxx"),
        F.sum(yd * yd).cast("double").alias("_syy"),
    )
    n = F.col("n").cast("double")
    cov_n = F.col("_sxy") - F.col("_sx") * F.col("_sy") / n
    var_x = F.col("_sxx") - F.col("_sx") * F.col("_sx") / n
    var_y = F.col("_syy") - F.col("_sy") * F.col("_sy") / n
    return m.select(
        *keys,
        "n",
        F.round(cov_n / F.sqrt(var_x * var_y), 6).alias("corr_xy"),
        F.round(cov_n / (n - 1), 6).alias("covar_xy"),
        F.round(F.sqrt(var_x / (n - 1)), 6).alias("stddev_x"),
        F.round(F.sqrt(var_y / (n - 1)), 6).alias("stddev_y"),
    )


def histogram(
    df: DataFrame,
    col: str,
    lo: float,
    hi: float,
    n_bins: int,
    keys: list[str] | None = None,
) -> DataFrame:
    """Equi-width histogram over an EXPLICIT [lo, hi) range — one

    map-side-combined aggregate, at most ``n_bins + 2`` rows per group
    (bin -1 underflows, bin ``n_bins`` overflows — a profile that hides
    out-of-range mass is a profile that lies).  The range is a parameter,
    not a data scan: distribution monitoring compares TODAY'S histogram
    against yesterday's, which only works when the bin edges are pinned.
    Pure integer bin math on a scaled value — engine-portable."""
    ks = list(keys or [])
    width = (hi - lo) / n_bins
    raw = F.floor((F.col(col) - F.lit(lo)) / F.lit(width))
    bin_id = (
        F.when(F.col(col).isNull(), None)
        .when(raw < 0, F.lit(-1))
        .when(raw >= n_bins, F.lit(n_bins))
        .otherwise(raw)
        .cast("long")
    )
    return (
        df.select(*ks, bin_id.alias("bin"))
        .where(F.col("bin").isNotNull())
        .groupBy(*ks, "bin")
        .agg(F.count("*").alias("n"))
        .select(
            *ks,
            "bin",
            F.round(F.lit(lo) + F.col("bin") * F.lit(width), 6).alias("bin_lo"),
            "n",
        )
    )


def winsorize(
    df: DataFrame,
    keys: list[str],
    col: str,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
    out: str | None = None,
) -> DataFrame:
    """Clip ``col`` to its per-group exact [p_lo, p_hi] percentiles — the

    outlier treatment that keeps rows (unlike a filter) and bounds
    influence (unlike raw values): the feature-cleaning step before
    scaling/aggregation.  One group aggregate computes both cut points
    in ONE array-percentile buffer (two scalar ``percentile`` aggs each
    hold their own full-group sort buffer; the array form sorts once and
    reads both ranks — same function, identical values), broadcast back
    onto the rows — no window over the raw data, no sort."""
    cuts = df.groupBy(*keys).agg(
        F.percentile(
            F.col(col), F.array(F.lit(p_lo), F.lit(p_hi))
        ).alias("_p"),
    ).select(
        *[F.col(k).alias(f"_ck_{k}") for k in keys],
        F.element_at("_p", 1).alias("_lo"),
        F.element_at("_p", 2).alias("_hi"),
    )
    # NULL measurements must STAY NULL — greatest/least skip NULLs, so an
    # unguarded clip would fabricate the p_lo cut for missing values
    clipped = F.when(
        F.col(col).isNotNull(),
        F.least(F.greatest(F.col(col), F.col("_lo")), F.col("_hi")),
    )
    # null-SAFE key equality: rows in a NULL-keyed group keep their row
    # (the docstring's whole point) instead of vanishing from an inner
    # equi-join
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"_ck_{k}"))
        cond = c if cond is None else cond & c
    return (
        df.join(F.broadcast(cuts), cond)
        .withColumn(out or col, clipped)
        .drop("_lo", "_hi", *[f"_ck_{k}" for k in keys])
    )


def group_ols(df: DataFrame, keys: list[str], x: str, y: str) -> DataFrame:
    """E5 — per-group simple linear regression (OLS y = a + b·x) with

    slope / intercept / R², closed-form from the same exact decimal
    moment sums as ``corr_stats`` (n, Σx, Σy, Σxy, Σx², Σy²): one
    partial-combined hash aggregate on the keys, closing formulas on
    per-group scalars — embarrassingly parallel at any scale, and every
    float is a deterministic function of exact integers (``F.regr_*``
    would accumulate doubles in partition order).

    Same supported domain as corr_stats: |x|,|y| < 1e12 at 1e-6
    granularity (decimal(18,6) inputs keep the cross product exact
    within Spark's 38-digit cap).  Groups with zero x-variance emit NULL
    slope/intercept/R².
    """
    xd = F.col(x).cast("decimal(18,6)")
    yd = F.col(y).cast("decimal(18,6)")
    # complete pairs only (standard corr/regr semantics): count(*) over
    # rows with a NULL x or y would disagree with the NULL-skipping
    # moment sums and silently corrupt every statistic
    df = df.where(F.col(x).isNotNull() & F.col(y).isNotNull())
    m = df.groupBy(*keys).agg(
        F.count("*").alias("n"),
        F.sum(xd).cast("double").alias("_sx"),
        F.sum(yd).cast("double").alias("_sy"),
        F.sum(xd * yd).cast("double").alias("_sxy"),
        F.sum(xd * xd).cast("double").alias("_sxx"),
        F.sum(yd * yd).cast("double").alias("_syy"),
    )
    n = F.col("n").cast("double")
    cov_n = F.col("_sxy") - F.col("_sx") * F.col("_sy") / n
    var_x = F.col("_sxx") - F.col("_sx") * F.col("_sx") / n
    var_y = F.col("_syy") - F.col("_sy") * F.col("_sy") / n
    slope = F.when(var_x > 0, cov_n / var_x)
    intercept = (F.col("_sy") - slope * F.col("_sx")) / n
    r2 = F.when(
        (var_x > 0) & (var_y > 0), cov_n * cov_n / (var_x * var_y)
    )
    return m.select(
        *keys,
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def confusion_matrix(df: DataFrame, pred_col: str, truth_col: str) -> DataFrame:
    """A-family — dense confusion counts: one hash aggregate on

    (pred, truth) with map-side combine; output bounded by label-space²,
    never rows.  Nulls pass through as their own row/column (a model
    that abstains is a fact worth counting, not an error)."""
    return df.groupBy(
        F.col(pred_col).alias("pred"), F.col(truth_col).alias("truth")
    ).agg(F.count("*").alias("n"))


def cohens_kappa(df: DataFrame, pred_col: str, truth_col: str) -> DataFrame:
    """A-family — Cohen's κ (chance-corrected agreement):

    κ = (p_o − p_e) / (1 − p_e) with p_o the observed agreement rate and
    p_e the marginal-product expectation.  Everything reduces to the
    confusion counts (label-space² rows), so after one hash aggregate
    the marginal joins and the closing formula run on a tiny frame; all
    counts stay integral until two final IEEE divisions — engine-exact
    after rounding.

    Output: one row (n, po, pe, kappa), po/pe/kappa rounded to 6.
    """
    cm = confusion_matrix(df, pred_col, truth_col)
    row_tot = cm.groupBy("pred").agg(F.sum("n").alias("_rt"))
    col_tot = cm.groupBy("truth").agg(F.sum("n").alias("_ct"))
    # Σ row_i·col_i over labels present in EITHER margin: full outer on
    # the label so a label predicted-but-never-true still contributes 0.
    # eqNullSafe: NULL is a real label here (p_o already counts NULL-NULL
    # agreement via eqNullSafe below) — a null-unsafe join would drop the
    # NULL×NULL marginal product from p_e and overstate kappa
    margins = row_tot.join(
        col_tot, row_tot["pred"].eqNullSafe(col_tot["truth"]), "full_outer"
    ).select(
        (F.coalesce(F.col("_rt"), F.lit(0)) * F.coalesce(F.col("_ct"), F.lit(0)))
        .alias("_rc")
    )
    agree = cm.agg(
        F.sum("n").alias("_n"),
        F.sum(F.when(F.col("pred").eqNullSafe(F.col("truth")), F.col("n"))
              .otherwise(F.lit(0))).alias("_diag"),
    )
    e = margins.agg(F.sum("_rc").alias("_sum_rc"))
    out = agree.crossJoin(F.broadcast(e))
    po = F.col("_diag").cast("double") / F.col("_n")
    pe = F.col("_sum_rc").cast("double") / (F.col("_n") * F.col("_n"))
    return out.select(
        F.col("_n").alias("n"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (1.0 - pe), 6).alias("kappa"),
    )


def calibration_report(
    df: DataFrame, prob_col: str, label_col: Column, n_bins: int = 10
) -> DataFrame:
    """A-family — reliability diagram + per-bin Brier decomposition:

    probabilities bucket into ``n_bins`` fixed-width bins (top edge
    closed), each bin reports count, exact-decimal mean predicted
    probability, observed positive rate, and the bin's Brier sum —
    one hash aggregate, output bounded by n_bins.  Inputs pre-round to
    6 digits so decimal sums are engine-exact; the Brier term
    (p − y)² squares a decimal(9,6) — probabilities live in [0,1], so
    the narrow type keeps the square exact (decimal(19,12)) well inside
    the 38-digit cap on any engine.

    Output: (bin, n, mean_p, frac_pos, brier) per non-empty bin.
    """
    p = F.round(F.col(prob_col).cast("double"), 6)
    pd_ = p.cast("decimal(8,6)")
    y = label_col.cast("int")
    binned = df.select(
        F.least(
            F.floor(p * n_bins).cast("int"), F.lit(n_bins - 1)
        ).alias("bin"),
        pd_.alias("_p"),
        y.alias("_y"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.round(F.sum("_p").cast("double") / F.count("*"), 6).alias("mean_p"),
        F.round(F.sum("_y").cast("double") / F.count("*"), 6).alias("frac_pos"),
        F.round(
            F.sum(
                (F.col("_p") - F.col("_y").cast("decimal(8,6)"))
                * (F.col("_p") - F.col("_y").cast("decimal(8,6)"))
            ).cast("double"),
            6,
        ).alias("brier"),
    )


def ab_test_report(
    df: DataFrame, variant_col: str, success: Column
) -> DataFrame:
    """A-family — two-proportion A/B test: per-variant trials/successes/

    rate plus, for every variant pair, the pooled two-proportion
    z-statistic (the experiment read-out before a ship decision).  One
    hash aggregate to variant cardinality, then the pairwise stats close
    on the tiny per-variant frame (a self-join bounded by variants²,
    broadcast both sides).  Counts are integral → rates are exact
    rationals; z is two IEEE square roots from exact integer moments, so
    the statistic is engine-reproducible.  The p-value is left to the
    caller's normal table (no erf on either engine — z is the portable
    part).

    Output: (variant_a, variant_b, n_a, n_b, rate_a, rate_b, z) for
    every ordered pair variant_a < variant_b, z > 0 ⟺ a converts
    better.
    """
    per = df.groupBy(F.col(variant_col).alias("variant")).agg(
        F.count("*").alias("n"),
        F.sum(success.cast("int")).alias("s"),
    )
    # The pair join is a theta join over the AGGREGATE OUTPUT — bounded
    # by variant cardinality, not data volume — so the BroadcastNestedLoop
    # Catalyst picks is the correct plan (a variants² nested loop beats
    # any shuffle; an artificial equi key just gets constant-folded away
    # because count(*) is non-nullable). tools/plan_report.py classifies
    # BNLs whose build side closes over a full-input aggregate as
    # "BNL-agg" for exactly this shape.
    a = per.select(
        F.col("variant").alias("variant_a"),
        F.col("n").alias("n_a"),
        F.col("s").alias("s_a"),
    )
    b = per.select(
        F.col("variant").alias("variant_b"),
        F.col("n").alias("n_b"),
        F.col("s").alias("s_b"),
    )
    pairs = a.join(b, F.col("variant_a") < F.col("variant_b"))
    p_a = F.col("s_a") / F.col("n_a")
    p_b = F.col("s_b") / F.col("n_b")
    pool = (F.col("s_a") + F.col("s_b")) / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(
        pool * (1.0 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return pairs.select(
        "variant_a",
        "variant_b",
        "n_a",
        "n_b",
        F.round(p_a, 6).alias("rate_a"),
        F.round(p_b, 6).alias("rate_b"),
        F.round(F.when(se > 0, (p_a - p_b) / se), 6).alias("z"),
    )


def pr_curve(
    df: DataFrame,
    score_col: str,
    label_col: Column,
    thresholds: list[float],
) -> DataFrame:
    """Precision / recall / F1 threshold sweep — the table a quality-

    classifier cut-off decision reads (E21; the operating-point companion
    to :func:`roc_auc`). One pass: each row fans out to the |thresholds|
    grid points it is scored against (map-side explode of a plan-literal
    array, combine collapses to |thresholds| rows before the single
    shuffle), so the corpus is scanned once regardless of grid size.
    Confusion counts are exact int64; precision/recall are single int/int
    IEEE divisions and F1 one fixed-shape expression, so every value is
    engine-portable with no rounding step.

    Output: (threshold, tp, fp, fn, precision, recall, f1) ordered by
    threshold; a zero-denominator cell (no predicted / no actual
    positives) yields NULL, never a division error.

    NULL policy: a NULL score means "not retrieved at any threshold" —
    a positive-labeled row with a NULL score counts as fn (dropping it
    would overstate recall, the metric this table exists to bound); a
    NULL label carries no evaluable truth, so the row is excluded from
    all three counts.
    """
    from dataengineer_spark.tuning import array_lit

    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    thr = F.explode(array_lit([float(t) for t in thresholds])).alias("threshold")
    lab = label_col.cast("boolean")
    pred = F.coalesce(
        F.col(score_col).cast("double") >= F.col("threshold"), F.lit(False)
    )
    fanned = df.select(F.col(score_col), lab.alias("_y"), thr)
    counts = fanned.groupBy("threshold").agg(
        F.sum(F.when(pred & F.col("_y"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(pred & ~F.col("_y"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~pred & F.col("_y"), 1).otherwise(0)).alias("fn"),
    )
    precision = F.when(
        F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))
    )
    recall = F.when(
        F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))
    )
    f1 = F.when(
        precision + recall > 0, 2 * precision * recall / (precision + recall)
    )
    return counts.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        precision.alias("precision"),
        recall.alias("recall"),
        f1.alias("f1"),
    ).orderBy("threshold")


#: Poisson(1) CDF as double literals (repr-exact, shared with the SQL
#: oracle): the inverse-CDF table behind the deterministic Poisson
#: bootstrap — multiplicity k iff u lands in [cdf[k-1], cdf[k]).
POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
)

BOOTSTRAP_SALT = 7919


def bootstrap_metric_ci(
    df: DataFrame,
    correct_col: str,
    id_col: str,
    n_replicas: int = 100,
    lo_rank: int = 6,
    hi_rank: int = 95,
) -> DataFrame:
    """Deterministic Poisson bootstrap CI for a 0/1 metric (accuracy,

    filter pass-rate): each row's multiplicity in replica ``b`` is
    Poisson(1) drawn by INVERSE CDF from a hash uniform — the standard
    scale-out bootstrap (resampling-by-index needs a global index and a
    per-replica shuffle; the Poisson form is one map-side explode, and
    the hash makes it reproducible across runs, partitionings, and
    engines). Per-replica numerator/denominator are exact int64 sums;
    the CI bounds are rank picks over the replica-count-bounded result
    (ties broken by replica id), and the replica mean uses an exact
    DECIMAL sum. Corpus cost: n_replicas× row fan-out collapsed by
    map-side combine before the single |replicas|-key shuffle — at
    100 TB run it over the (already small) evaluation slice, not raw
    corpus, like any metric.

    Output: one row (n_replicas, mean_acc, ci_lo, ci_hi).
    """
    from pyspark.sql import Window as W

    from dataengineer_spark.operators.preparation import (
        SPLIT_MULT,
        _reduced_key,
    )

    if not 1 <= lo_rank <= hi_rank <= n_replicas:
        raise ValueError(
            f"need 1 <= lo_rank <= hi_rank <= n_replicas, got "
            f"({lo_rank}, {hi_rank}, {n_replicas})"
        )
    b = F.explode(F.sequence(F.lit(1), F.lit(n_replicas))).alias("b")
    fanned = df.select(
        F.col(id_col).alias("_id"), F.col(correct_col).cast("long").alias("_c"), b
    )
    u = F.pmod(
        _reduced_key(F.col("_id")) * SPLIT_MULT + F.col("b") * BOOTSTRAP_SALT,
        F.lit(1 << 31),
    ) / float(1 << 31)
    w: Column = F.lit(len(POISSON1_CDF))
    for k in range(len(POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    per_b = fanned.select("b", w.cast("long").alias("_w"), "_c").groupBy("b").agg(
        F.sum("_w").alias("_nw"),
        F.sum(F.col("_w") * F.col("_c")).alias("_nc"),
    )
    acc = per_b.select(
        "b",
        F.when(F.col("_nw") > 0, F.col("_nc") / F.col("_nw")).alias("acc"),
    )
    ranked = acc.withColumn(
        "rn", F.row_number().over(W.orderBy(F.col("acc").asc_nulls_last(), "b"))
    )
    # ONE aggregate over the replica-bounded frame: mean + rank picks as
    # conditional maxes — no re-execution of the fan-out pipeline per
    # output column, no join of one-row frames. Empty input still yields
    # the contractual single row (global agg), with NULL stats.
    stats = ranked.agg(
        F.round(
            F.sum(F.col("acc").cast("decimal(28,12)")).cast("double")
            / F.lit(n_replicas),
            6,
        ).alias("mean_acc"),
        F.round(F.max(F.when(F.col("rn") == lo_rank, F.col("acc"))), 6).alias(
            "ci_lo"
        ),
        F.round(F.max(F.when(F.col("rn") == hi_rank, F.col("acc"))), 6).alias(
            "ci_hi"
        ),
    )
    return stats.select(
        F.lit(n_replicas).cast("long").alias("n_replicas"),
        "mean_acc",
        "ci_lo",
        "ci_hi",
    )


def wilson_accuracy(
    df: DataFrame,
    group_cols: list[str],
    correct_col: str,
    z: float = 1.96,
) -> DataFrame:
    """Per-slice 0/1-metric rate with a Wilson score interval — the

    sliced-eval table with honest uncertainty (a 5-row slice reading
    "100%" gets the wide interval it deserves; plain ±1.96·SE collapses
    to a zero-width lie at p=0 or 1). One hash aggregate for the exact
    int64 (n, successes); the interval is a fixed-shape closed form
    over p = s/n using only IEEE-exact ops (+ - * / sqrt) with z²
    folded in driver-side as a literal — engine-portable bit-for-bit,
    rounded once at the edge.

    Output: (group..., n, rate, wilson_lo, wilson_hi) — NULL interval
    for empty slices never occurs (a group implies >= 1 row). A NULL
    ``correct`` value counts as a FAILURE (in n, not in successes) —
    the CASE-ELSE-0 convention the oracles use — so an all-NULL slice
    reports rate 0 with a defined interval, never NULL stats.
    """
    z2 = z * z  # driver-side: no cross-engine multiply of z
    per = df.groupBy(*group_cols).agg(
        F.count("*").alias("n"),
        F.sum(
            F.coalesce(F.col(correct_col).cast("long"), F.lit(0))
        ).alias("_s"),
    )
    n, s = F.col("n"), F.col("_s")
    p = s / n
    denom = 1 + F.lit(z2) / n
    center = (p + F.lit(z2) / (2 * n)) / denom
    half = F.lit(z) * F.sqrt((p * (1 - p) + F.lit(z2) / (4 * n)) / n) / denom
    return per.select(
        *group_cols,
        "n",
        F.round(p, 6).alias("rate"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    )

def bradley_terry(
    battles: DataFrame,
    a_col: str,
    b_col: str,
    winner_col: str,
    iters: int = 2,
    total_rating: float = 100.0,
) -> DataFrame:
    """Bradley–Terry strength ratings from pairwise battles (public
    model; the minorization-maximization iteration of Hunter 2004) —
    the arena-style model leaderboard: given (contestant A, contestant
    B, winner) rows, estimate a strength π per contestant such that
    P(i beats j) = π_i / (π_i + π_j).

    Battles where the winner is neither side (ties, NULLs) or where a
    contestant plays itself carry no pairwise signal and are excluded.
    The MM update is ``π_i ← W_i / Σ_j n_ij / (π_i + π_j)`` from a flat
    start (π = 1), run a FIXED ``iters`` times — deterministic, no
    convergence test, oracle-replayable as unrolled CTEs.  A contestant
    with zero wins gets rating 0 (the MLE boundary); ratings are
    normalized to sum to ``total_rating`` at the end.

    Scale shape: battles reduce to the unordered pair-count matrix in
    ONE corpus-sized aggregate, materialized once by a localCheckpoint
    (≤ 2K² rows for K contestants — a leaderboard, not a corpus);
    every MM iteration then runs on that checkpoint as two tiny
    broadcast self-joins, its own 1-pass output checkpointed in turn.
    Without the lineage cuts each iteration re-nested the corpus
    aggregate under every state reference (77 exchanges at iters=2,
    wall dominated by Catalyst, the pca_power_top lesson); the cuts
    change scheduling only, never values.  Nothing corpus-sized is
    ever collected.  Effectful-at-build (the kmeans contract).

    Output: (model, n_battles, wins, rating) ordered by rating desc,
    model asc; rating rounded to 6.
    """
    lo = F.least(F.col(a_col), F.col(b_col))
    hi = F.greatest(F.col(a_col), F.col(b_col))
    valid = (
        F.col(a_col).isNotNull()
        & F.col(b_col).isNotNull()
        & (F.col(a_col) != F.col(b_col))
        & (
            (F.col(winner_col) == F.col(a_col))
            | (F.col(winner_col) == F.col(b_col))
        )
    )
    pairs = (
        battles.where(valid)
        .select(
            lo.alias("_lo"),
            hi.alias("_hi"),
            F.when(F.col(winner_col) == lo, 1).otherwise(0).alias("_lw"),
        )
        .groupBy("_lo", "_hi")
        .agg(
            F.count("*").cast("bigint").alias("_n"),
            F.sum("_lw").cast("bigint").alias("_lo_wins"),
        )
    )
    # per-contestant side expansion: each pair contributes a win count
    # and an opponent row to BOTH sides — the frame every iteration
    # (and the final W_i / n_i accounting) aggregates from
    sides = lineage_cut(
        pairs.select(
            F.col("_lo").alias("model"),
            F.col("_hi").alias("_opp"),
            F.col("_n"),
            F.col("_lo_wins").alias("_wins"),
        )
        .unionByName(
            pairs.select(
                F.col("_hi").alias("model"),
                F.col("_lo").alias("_opp"),
                F.col("_n"),
                (F.col("_n") - F.col("_lo_wins")).alias("_wins"),
            )
        )
    )
    ratings = sides.select("model").distinct().select(
        "model", F.lit(1.0).alias("_pi")
    )
    for _ in range(iters):
        opp_pi = ratings.select(
            F.col("model").alias("_opp"), F.col("_pi").alias("_opp_pi")
        )
        denom = F.col("_pi") + F.col("_opp_pi")
        joined = (
            sides.join(F.broadcast(ratings), "model")
            .join(F.broadcast(opp_pi), "_opp")
            .select(
                "model",
                "_wins",
                # two zero-π contestants give an undefined pair term —
                # guard it out rather than bet on engine ÷0 semantics
                # (Spark doubles give Inf, DuckDB configurably NULL)
                F.when(denom > 0, F.col("_n") / denom).alias("_d"),
            )
        )
        ratings = lineage_cut(
            joined.groupBy("model").agg(
                F.coalesce(
                    F.when(
                        F.sum("_d") > 0, F.sum("_wins") / F.sum("_d")
                    ),
                    F.lit(0.0),
                ).alias("_pi")
            )
        )  # K rows — control-plane-sized
    stats = sides.groupBy("model").agg(
        F.sum("_n").cast("bigint").alias("n_battles"),
        F.sum("_wins").cast("bigint").alias("wins"),
    )
    norm = ratings.agg(F.sum("_pi").alias("_tot"))
    return (
        stats.join(F.broadcast(ratings), "model")
        .crossJoin(F.broadcast(norm))
        .select(
            "model",
            "n_battles",
            "wins",
            F.round(
                F.col("_pi") * total_rating / F.col("_tot"), 6
            ).alias("rating"),
        )
        .orderBy(F.col("rating").desc(), F.col("model").asc())
    )

def paired_t_test(
    df: DataFrame,
    metric_a: str,
    metric_b: str,
) -> DataFrame:
    """Paired t-statistic for two metrics measured on the SAME units
    (public formula) — the right test when comparing two models /
    variants evaluated per fold, per user, or per query: pairing
    removes the between-unit variance an unpaired test drowns in.

    The input is one row per unit carrying both metric columns (the
    caller pivots); rows missing either metric are excluded (no pair,
    no signal) and the surviving count is reported.  The statistic uses
    the one-pass sums (Σd, Σd²): mean = Σd/n, var = (Σd² − (Σd)²/n)/
    (n−1), t = mean/(sd/√n) — sqrt is IEEE-correctly-rounded, so only
    the two float SUMS are order-sensitive, absorbed by the output
    rounding.  The one-pass variance is CLAMPED at zero before the
    sqrt: float cancellation on constant-but-inexact diffs can leave it
    a few ulps negative, and sqrt(-4e-16) is NaN on Spark but an error
    on other engines (review-caught).  Degenerate cases are NULL, never
    garbage: n < 2 (no variance estimate) and sd = 0 (t undefined).
    The p-value is deliberately out of scope (Student-t CDF is an
    incomplete beta — not an engine-portable primitive); consumers
    compare |t| to a literal critical value.

    Scale shape: one full-scan aggregate to a single row.

    Output: (n, mean_diff, sd_diff, t_stat, dof), stats rounded to 4.
    """
    d = F.col(metric_a).cast("double") - F.col(metric_b).cast("double")
    pairs = df.where(
        F.col(metric_a).isNotNull() & F.col(metric_b).isNotNull()
    ).select(d.alias("_d"))
    agg = pairs.agg(
        F.count("*").alias("n"),
        F.sum("_d").alias("_s"),
        F.sum(F.col("_d") * F.col("_d")).alias("_s2"),
    )
    n = F.col("n").cast("double")
    mean = F.col("_s") / n
    var = F.greatest(
        (F.col("_s2") - F.col("_s") * F.col("_s") / n) / (n - 1.0),
        F.lit(0.0),
    )
    sd = F.sqrt(var)
    t = F.when(sd > 0, mean / (sd / F.sqrt(n)))
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(F.when(F.col("n") > 0, mean), 4).alias("mean_diff"),
        F.round(F.when(F.col("n") >= 2, sd), 4).alias("sd_diff"),
        F.round(F.when(F.col("n") >= 2, t), 4).alias("t_stat"),
        F.when(
            F.col("n") >= 2, (F.col("n") - 1).cast("bigint")
        ).alias("dof"),
    )

def roc_auc_by(
    df: DataFrame,
    keys: list[str],
    score_col: str,
    label_col: Column,
) -> DataFrame:
    """Per-slice exact ROC AUC — :func:`roc_auc`'s Mann-Whitney
    rank-sum identity with the distinct-score axis PARTITIONED by the
    slice keys (the eval table a model review actually reads: AUC per
    language, per source, per cohort — a global AUC hides a slice
    where the model inverts).  One definition of the math for both
    paths: :func:`_rank_sum_auc`.

    Same exactness story as the global form: integral pair counts with
    ties as half-credit (DECIMAL accumulation — no silent int64 wrap),
    the only window over each slice's DISTINCT scores (bounded by
    score precision, not rows).  Slices with only one class have an
    undefined AUC and report NULL (never a fake 0.5 — absence of
    evidence is not calibration).  NULL keys form their own slice only
    if present in the data (SQL grouping semantics); NULL labels AND
    NULL scores are excluded up front (unknown truth / unrankable rows
    contribute no pairs — engines disagree on where NULL sorts).

    Output: (keys..., auc, n_pos, n_neg) ordered by keys.
    """
    agg = _rank_sum_auc(df, keys, score_col, label_col)
    return agg.select(
        *keys,
        F.round(
            F.when(
                (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
                F.col("_n2").cast("double")
                / (2.0 * F.col("n_pos") * F.col("n_neg")),
            ),
            6,
        ).alias("auc"),
        "n_pos",
        "n_neg",
    ).orderBy(*keys)



def pct_col_names(probs: list[float]) -> list[str]:
    """THE output column names :func:`percentiles` /
    :func:`percentiles_distributed` use for a probability list —
    callers that post-process percentile output must derive names
    here, not re-derive the f-string (review-caught coupling).  Raises
    on probs that collide under the int-percent truncation (two
    columns with one alias is an ambiguous-reference
    AnalysisException later, at a distance)."""
    names = [f"p{int(p * 100)}" for p in probs]
    if len(set(names)) != len(names):
        raise ValueError(
            f"percentile probs collide under int-percent naming: {probs}"
        )
    return names


def exact_moment_stats(n_col: Column, s_col: Column, s2_col: Column):
    """Shared mean / clamped sample-stddev from decimal-exact moment
    sums — THE one definition for every (n, Σv, Σv²) consumer
    (seasonal/burstiness/embedding-outlier/paired-t family), so a
    guard fix lands everywhere at once (the _rank_sum_auc lesson).

    Inputs: a count column and two DECIMAL sum columns.  Returns
    (mean, std) Columns: mean = Σv/n; std = sqrt of the (n−1)-variance
    CLAMPED at zero (float cancellation on constant inputs can leave
    it ulps negative — sqrt(-0.0000…) is NaN on Spark, an error
    elsewhere), NULL when n < 2.
    """
    nd = n_col.cast("double")
    s_d = s_col.cast("double")
    s2_d = s2_col.cast("double")
    mean = s_d / nd
    var = F.greatest(
        (s2_d - s_d * s_d / nd) / (nd - 1.0), F.lit(0.0)
    )
    std = F.when(n_col >= 2, F.sqrt(var))
    return mean, std
