"""Similarity search over embedding columns (E3).

Embeddings are ``array<float>`` columns (FIXTURES.md: 64-dim). Baseline is
brute-force cosine top-k — a single scan with the score computed JVM-side
(``zip_with`` + ``aggregate``), reduced via TakeOrdered (no global sort).
The scale path buckets vectors with random-hyperplane LSH so a query only
scans its own bucket(s): at 100 TB the bucket join replaces the full scan.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataengineer_spark.tuning import sql_literal


# -- single-parse SQL expression builders ------------------------------------
#
# Column-API construction of the vector folds below costs one py4j JVM
# round trip per F.* call, and the higher-order-function lambdas cost
# several each; a pq_encode + reconstruction plan measured 4,048 round
# trips ≈ 2.8 s of DRIVER time per query BUILD (round-11 profile) — more
# than the queries' execution.  So every hot fold has ONE implementation:
# a ``*_s`` helper that renders it as a SQL string, parsed JVM-side in a
# single call (``F.expr``).  Helpers take and return SQL fragments (a
# quoted column name, ``_vec_s(col)``, a ``slice(...)`` of one); the
# public builders take the same fragments and return the parsed Column.
# Values are pinned against left-fold pure-Python references in
# tests/test_operators.py::TestSqlExprTwins.


def _dot_s(a: str, b: str) -> str:
    """``a · b`` as a zip_with/aggregate left fold."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        "(acc, v) -> acc + v)"
    )


def _l2_s(a: str) -> str:
    """``‖a‖₂``: sqrt of a left-fold sum of squares."""
    return (
        f"sqrt(aggregate(transform({a}, x -> x * x), 0.0D, "
        "(acc, v) -> acc + v))"
    )


def _sqdist_s(a: str, b: str) -> str:
    """``‖a − b‖²`` as a left fold."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), 0.0D, "
        "(acc, v) -> acc + v)"
    )


def _vec_s(col_name: str) -> str:
    """``CAST(`col` AS ARRAY<DOUBLE>)`` — the standard vector projection."""
    return f"CAST(`{col_name}` AS ARRAY<DOUBLE>)"


def _matvec_s(vec: str, mat: list[list[float]]) -> str:
    """``vec @ matᵀ`` as ONE fold over ``vec``: the accumulator is the
    width-``len(mat)`` partial-sum array and ``mat`` ships transposed
    (element j holds ``[mat[0][j], ..., mat[-1][j]]``) as a single parsed
    literal, so the interpreter makes one pass regardless of the output
    width.  Shared by :func:`project`, :func:`lsh_bucket` and
    :func:`pq_encode`."""
    pmat = sql_literal([[row[j] for row in mat] for j in range(len(mat[0]))])
    return (
        f"aggregate(zip_with({vec}, {pmat}, "
        "(x, row) -> transform(row, pv -> x * pv)), "
        f"array_repeat(0.0D, {len(mat)}), "
        "(acc, contrib) -> zip_with(acc, contrib, (a, c) -> a + c))"
    )


def dot(a: str, b: str) -> Column:
    """Dot product of two array<numeric> SQL fragments (JVM-side)."""
    return F.expr(_dot_s(a, b))


def l2_norm(a: str) -> Column:
    """L2 norm of an array<numeric> SQL fragment."""
    return F.expr(_l2_s(a))


def brute_force_top_k(
    df: DataFrame,
    query_vec: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """E3 baseline — exact cosine top-k against one query vector.

    The query is a literal array folded into the plan (broadcast-by-value);
    orderBy+limit executes as per-partition top-k + driver merge of k·p
    rows, so no shuffle of the scored table.
    """
    v = _vec_s(vec_col)
    q = sql_literal([float(x) for x in query_vec])
    denom = f"({_l2_s(v)} * {_l2_s(q)})"
    # NULL when either norm is 0
    cos = F.expr(f"CASE WHEN {denom} > 0 THEN {_dot_s(v, q)} / {denom} END")
    scored = df.select(F.col(id_col), cos.alias("cos_sim"))
    return scored.orderBy(F.col("cos_sim").desc_nulls_last(), F.col(id_col)).limit(k)


#: rows above which the exact/quadratic baselines refuse to plan — at that
#: point the LSH/IVF scale paths are the correct operator, and a silent
#: BroadcastNestedLoop cartesian is a cluster-killer at 100 TB.
QUADRATIC_ROW_LIMIT = 10_000


def _guard_quadratic(df: DataFrame, side: str, scale_fn: str, allow: bool) -> None:
    """Fail loudly when a declared-small side is not small.

    The probe is ``limit(N+1).count()`` — it stops scanning after N+1 rows,
    so the guard costs O(N) regardless of the real table size.
    """
    if allow:
        return
    probe = df.limit(QUADRATIC_ROW_LIMIT + 1).count()
    if probe > QUADRATIC_ROW_LIMIT:
        raise ValueError(
            f"{side} exceeds {QUADRATIC_ROW_LIMIT} rows: this exact baseline "
            f"plans an O(n²) cartesian. Use {scale_fn} at corpus scale, or "
            f"pass allow_quadratic=True if you really mean it."
        )


def pairwise_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
    allow_quadratic: bool = False,
) -> DataFrame:
    """Exact top-k corpus neighbors for every query row.

    Broadcast the (small) query side against the corpus scan, score, then
    per-query top-k via window. Use only when ``queries`` is dimension-sized
    (guarded: > QUADRATIC_ROW_LIMIT query rows raises unless
    ``allow_quadratic``); for query sets at corpus scale use
    :func:`lsh_top_k`.
    """
    from dataengineer_spark.operators.windows import top_k_per_group

    _guard_quadratic(queries, "query side", "lsh_top_k", allow_quadratic)
    # per-side norms folded once per row, not once per (query, corpus)
    # pair — same expressions, bit-identical cos_sim (round-11 opt, the
    # brute_force_neardup_pairs pattern)
    q = queries.select(
        F.col(q_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
        l2_norm(_vec_s(vec_col)).alias("_qn"),
    )
    c = corpus.select(
        F.col(c_id).alias("corpus_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
        l2_norm(_vec_s(vec_col)).alias("_cn"),
    )
    denom = F.col("_qn") * F.col("_cn")
    cos = F.when(denom > 0, dot("_qv", "_cv") / denom)
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id", "corpus_id", cos.alias("cos_sim")
    )
    return top_k_per_group(
        scored, ["query_id"], [F.col("cos_sim").desc_nulls_last(), F.col("corpus_id")], k
    )


def brute_force_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    allow_quadratic: bool = False,
) -> DataFrame:
    """E2 embedding-cosine near-dup, exact baseline: all (i<j) pairs with

    cosine ≥ threshold. O(n²) — the verification/small-corpus path
    (guarded: > QUADRATIC_ROW_LIMIT rows raises unless ``allow_quadratic``);
    at corpus scale use :func:`embedding_neardup_pairs` (LSH-bucketed) which
    prunes the candidate space before the same cosine verify."""
    _guard_quadratic(df, "input", "embedding_neardup_pairs", allow_quadratic)
    # round-11 opt: fold each row's norm ONCE per side instead of per
    # pair (the pair stage re-folded both norms for every one of the
    # O(n²) candidates — 2/3 of its per-pair work).  The per-row fold is
    # the identical l2_norm expression, and the pair-level denom is the
    # same float product, so cos_sim is bit-identical.
    base = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
    a = base.select(
        F.col(id_col).alias("id_a"), F.col("_v").alias("_va"),
        l2_norm("_v").alias("_na"),
    )
    b = base.select(
        F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"),
        l2_norm("_v").alias("_nb"),
    )
    denom = F.col("_na") * F.col("_nb")
    cos = F.when(denom > 0, dot("_va", "_vb") / denom)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )


# -- LSH scale path ---------------------------------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rnd = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rnd.gauss(0.0, 1.0) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def lsh_bucket(vec: str, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: bit i = sign(vec·plane_i) → int bucket.

    ONE fold over the vector carries all plane partial sums as an array
    accumulator (:func:`_matvec_s`): per-element work is a
    width-``n_planes`` zip instead of ``n_planes`` separate interpreted
    folds — measured ~4× faster in the expression interpreter.
    """
    bits = sql_literal([1 << i for i in range(len(planes))])
    return F.expr(
        f"aggregate(zip_with({_matvec_s(vec, planes)}, {bits}, "
        "(s, bit) -> CASE WHEN s > 0 THEN bit ELSE 0 END), 0, "
        "(acc, v) -> acc + v)"
    )


def _lsh_scored(
    q_pre: DataFrame,
    c_pre: DataFrame,
    dim: int,
    n_planes: int,
    seed: int,
) -> DataFrame:
    """Bucketed candidate scoring shared by every LSH top-k shape:
    ``q_pre`` carries (query_id, _qv, extras), ``c_pre`` (corpus_id,
    _cv, extras).  Adds the shared hyperplane bucket + per-ROW norms
    (folded BEFORE the join — inside the scored select they'd re-fold
    once per candidate pair), equi-joins on the bucket, and appends the
    exact ``cos_sim``.  One definition so lsh_top_k / hard-negative
    mining / k-NN classification provably score identically."""
    planes = _hyperplanes(dim, n_planes, seed)
    q = q_pre.select(
        "*",
        lsh_bucket("_qv", planes).alias("_bk"),
        l2_norm("_qv").alias("_qn"),
    )
    c = c_pre.select(
        "*",
        lsh_bucket("_cv", planes).alias("_bk"),
        l2_norm("_cv").alias("_cn"),
    )
    denom = F.col("_qn") * F.col("_cn")
    return q.join(c, on="_bk").withColumn(
        "cos_sim",
        F.when(denom > 0, dot("_qv", "_cv") / denom),
    )


def lsh_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int = 64,
    n_planes: int = 8,
    k: int = 5,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """E3 scale path — approximate top-k via shared LSH bucketing.

    Both sides get the same hyperplane signature; the cross join becomes an
    equi-join on bucket (shuffle partitioned by bucket id). Recall trades
    off with ``n_planes``; candidates verified with exact cosine.
    """
    from dataengineer_spark.operators.windows import top_k_per_group

    q_pre = queries.select(
        F.col(q_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    c_pre = corpus.select(
        F.col(c_id).alias("corpus_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    )
    scored = _lsh_scored(q_pre, c_pre, dim, n_planes, seed).select(
        "query_id", "corpus_id", "cos_sim"
    )
    return top_k_per_group(
        scored, ["query_id"], [F.col("cos_sim").desc_nulls_last(), F.col("corpus_id")], k
    )


def hard_negative_mining(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int = 64,
    n_planes: int = 8,
    k: int = 5,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    seed: int = 42,
) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training (public

    method — the dense-retrieval negatives recipe, DPR/ANCE family): per
    anchor, the top-``k`` most-similar corpus items with a DIFFERENT
    label — similar enough to be hard, labeled differently so they are
    negatives.  Random negatives are trivial for the model; the items
    just across the decision boundary are where the training signal is.

    Same bucketed shape as :func:`lsh_top_k` — shared hyperplane
    signature turns the cross join into a bucket equi-join; per-row
    norms fold BEFORE the join; the label inequality filters candidates
    before the rank window, so a bucket full of same-label items simply
    yields fewer negatives (never a wrong one).  NULL-labeled corpus
    rows are never negatives and NULL-labeled anchors mine none (SQL
    three-valued ``<>`` — conservative on purpose: an unknown label
    cannot be known to be different).

    Output: (query_id, corpus_id, cos_sim, neg_label) — ``k`` rows per
    anchor at most, ties broken by corpus id.
    """
    from dataengineer_spark.operators.windows import top_k_per_group

    q_pre = queries.select(
        F.col(q_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
        F.col(label_col).alias("_ql"),
    )
    c_pre = corpus.select(
        F.col(c_id).alias("corpus_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
        F.col(label_col).alias("neg_label"),
    )
    scored = (
        _lsh_scored(q_pre, c_pre, dim, n_planes, seed)
        .where(F.col("neg_label") != F.col("_ql"))
        # undefined similarity (zero-norm side) can never be a "hard"
        # negative — exclude rather than rank last
        .where(F.col("cos_sim").isNotNull())
        .select("query_id", "corpus_id", "cos_sim", "neg_label")
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cos_sim").desc_nulls_last(), F.col("corpus_id")],
        k,
    )


def knn_classify(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int = 64,
    n_planes: int = 8,
    k: int = 5,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    seed: int = 42,
    exclude_self: bool = False,
) -> DataFrame:
    """k-NN classification over the LSH-bucketed candidate set: each

    query's label is the MAJORITY VOTE among its ``k`` nearest (exact
    cosine) labeled neighbors — the classic embedding-space classifier /
    weak-labeling pass (assign a class to new documents from labeled
    neighbors without training anything).  Unlabeled (NULL) corpus rows
    never vote; vote-count ties break to the smaller label, neighbor
    ties to the smaller corpus id — fully deterministic.

    ``exclude_self=True`` drops candidates whose corpus id equals the
    query id — mandatory when queries are drawn from the corpus itself,
    else every vector trivially votes for its own label.

    Scale shape: the shared ``_lsh_scored`` bucket join (the only
    corpus-width shuffle), a per-query top-k window, then a
    (query, label)-bounded vote aggregate — both post-join stages are
    candidate-set-sized, never corpus-sized.

    Output: (query_id, predicted_label, n_votes).
    """
    from dataengineer_spark.operators.windows import top_k_per_group

    q_pre = queries.select(
        F.col(q_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    c_pre = corpus.where(F.col(label_col).isNotNull()).select(
        F.col(c_id).alias("corpus_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
        F.col(label_col).alias("_lbl"),
    )
    scored = _lsh_scored(q_pre, c_pre, dim, n_planes, seed).where(
        # a neighbor with undefined cosine (zero-norm side) is not a
        # "nearest" anything — it must not vote
        F.col("cos_sim").isNotNull()
    )
    if exclude_self:
        scored = scored.where(F.col("corpus_id") != F.col("query_id"))
    top = top_k_per_group(
        scored.select("query_id", "corpus_id", "cos_sim", "_lbl"),
        ["query_id"],
        [F.col("cos_sim").desc_nulls_last(), F.col("corpus_id")],
        k,
    )
    votes = top.groupBy("query_id", "_lbl").agg(
        F.count("*").alias("n_votes")
    )
    pick = top_k_per_group(
        votes,
        ["query_id"],
        [F.col("n_votes").desc(), F.col("_lbl").asc()],
        1,
    )
    return pick.select(
        "query_id", F.col("_lbl").alias("predicted_label"), "n_votes"
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup (E2 family): bucket by hyperplane

    signature, verify cosine ≥ threshold inside buckets."""
    planes = _hyperplanes(dim, n_planes, seed)
    base = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    ).select(
        # norm per ROW before the self-join, not per candidate pair
        "*",
        lsh_bucket("_v", planes).alias("_bk"),
        l2_norm("_v").alias("_n"),
    )
    a = base.select(
        F.col(id_col).alias("id_a"), F.col("_v").alias("_va"),
        F.col("_n").alias("_na"), "_bk",
    )
    b = base.select(
        F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"), "_bk",
    )
    denom = F.col("_na") * F.col("_nb")
    return (
        a.join(b, on="_bk")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.when(denom > 0, dot("_va", "_vb") / denom).alias(
                "cos_sim"
            ),
        )
        .where(F.col("cos_sim") >= threshold)
    )


# -- IVF scale path ---------------------------------------------------------


def _centroids(dim: int, n_centroids: int, seed: int = 7) -> list[list[float]]:
    """Deterministic unit-norm coarse centroids (seeded gaussian).

    A trained k-means codebook slots in here unchanged — the plan shape
    (broadcast codebook, cell-local search) is what matters at scale.
    """
    rnd = random.Random(seed)
    cents = []
    for _ in range(n_centroids):
        v = [rnd.gauss(0.0, 1.0) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        cents.append([x / norm for x in v])
    return cents


def _cell_scores_s(vec: str, cents: list[list[float]]) -> str:
    """array<struct<score,cell>> of centroid-affinity scores.

    score = vec·centroid — cosine-ORDER-equivalent for one vec (the
    1/|vec| factor is a shared positive divisor), so the norm fold per
    centroid the cosine form paid is dropped; the codebook ships as one
    parsed literal."""
    cmat = sql_literal(cents)
    return (
        f"transform({cmat}, (c, i) -> "
        f"struct({_dot_s(vec, 'c')} AS score, i AS cell))"
    )


def nearest_cell(vec: str, cents: list[list[float]]) -> Column:
    """Index of the nearest (max cosine) centroid — the IVF assignment.

    A NULL ``vec`` gets the HIGHEST cell id, not NULL: every score is
    NULL, so the struct max falls to the cell tie-break.  Downstream
    this is harmless (``ivf_top_k`` scores the row NULL and ranks it
    last; ``kmeans_codebook``'s posexplode of a NULL vector adds no
    component), and it is pinned in tests."""
    # struct compare: score first, then cell
    return F.expr(f"array_max({_cell_scores_s(vec, cents)}).cell")


def ivf_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    codebook: list[list[float]] | None = None,
) -> DataFrame:
    """E3 ANN, IVF variant: corpus vectors are assigned to their nearest

    coarse centroid (the inverted file); each query probes its ``n_probe``
    nearest cells and runs exact cosine only there. Work per query drops
    from |corpus| to ~|corpus|·n_probe/n_centroids; the codebook is a
    plan literal (broadcast by value), the cell join is a plain equi-join
    on the cell id. Recall < 1 by design — raise ``n_probe`` toward
    ``n_centroids`` to trade cost for recall (full probe ≡ brute force).
    """
    from dataengineer_spark.operators.windows import top_k_per_group

    # a trained codebook (kmeans_codebook) replaces the seeded default
    cents = codebook if codebook is not None else _centroids(dim, n_centroids, seed)
    c = corpus.select(
        F.col(c_id).alias("corpus_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    ).select(
        # per-ROW pre-join: inside the scored select the norm would be
        # re-folded once per candidate pair — the dominant cost measured
        "*",
        nearest_cell("_cv", cents).alias("_cell"),
        l2_norm("_cv").alias("_cn"),
    )
    probe = F.slice(
        F.reverse(F.array_sort(F.expr(_cell_scores_s("_qv", cents)))), 1, n_probe
    )
    q = (
        queries.select(
            F.col(q_id).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("_qv"),
        )
        .select("*", l2_norm("_qv").alias("_qn"))
        .withColumn("_p", F.explode(probe))
        .select("query_id", "_qv", "_qn", F.col("_p.cell").alias("_cell"))
    )
    denom = F.col("_qn") * F.col("_cn")
    scored = q.join(c, on="_cell").select(
        "query_id",
        "corpus_id",
        F.when(denom > 0, dot("_qv", "_cv") / denom).alias("cos_sim"),
    )
    return top_k_per_group(
        scored, ["query_id"], [F.col("cos_sim").desc_nulls_last(), F.col("corpus_id")], k
    )


def brute_force_top_k_arrow(
    df: DataFrame,
    query_vec: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k, Arrow/numpy path.

    Same result as :func:`brute_force_top_k`, different engine layer:
    ``mapInPandas`` streams Arrow batches into one BLAS matmul per batch,
    keeps each batch's local top-k, and a final TakeOrdered merges k·p
    candidate rows. Dense linear algebra is where interpreted Catalyst
    folds lose to vectorized numpy by orders of magnitude — this is the
    shape a 100 TB corpus scan wants: O(n) scan, no shuffle, per-partition
    reduction before the driver merge.
    """
    import numpy as np
    import pandas as pd

    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(q))
    # id type comes from the input schema (a hardcoded long would crash
    # string/int32 ids at runtime — same rule as minhash_signatures_arrow)
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, cos_sim double"

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            denom = np.linalg.norm(mat, axis=1) * qn
            with np.errstate(divide="ignore", invalid="ignore"):
                cs = np.where(denom > 0, mat @ q / denom, np.nan)
            out = pd.DataFrame({id_col: pdf[id_col].to_numpy(), "cos_sim": cs})
            scored_rows = out[~out["cos_sim"].isna()]
            top = scored_rows.nlargest(min(k, len(scored_rows)), "cos_sim")
            # zero-norm rows: NULL cos_sim sorted LAST, like the
            # expression twin (nlargest would silently drop NaN rows,
            # breaking the 'same result' parity contract)
            degenerate = out[out["cos_sim"].isna()].head(k)
            degenerate = degenerate.assign(cos_sim=None)
            yield pd.concat([top, degenerate], ignore_index=True)

    scored = df.select(id_col, vec_col).mapInPandas(score, schema)
    return scored.orderBy(F.col("cos_sim").desc_nulls_last(), F.col(id_col)).limit(k)


# -- k-means codebook training (Lloyd's) ------------------------------------


def nearest_cell_of(
    vec: str, pairs: list[tuple[int, list[float]]]
) -> Column:
    """IVF assignment against an EXPLICIT (cell_id, centroid) codebook —
    like ``nearest_cell`` but ids survive empty-cell drops during k-means
    training. Max dot product; ties go to the larger cell id (struct
    max), mirrored in the SQL oracles as ORDER BY score DESC, cell DESC.
    As in ``nearest_cell``, a NULL ``vec`` ties every score at NULL and
    gets the largest cell id."""
    cmat = sql_literal([c for _, c in pairs])
    ids = sql_literal([cid for cid, _ in pairs])
    return F.expr(
        f"array_max(transform({cmat}, (c, i) -> "
        f"struct({_dot_s(vec, 'c')} AS score, "
        f"element_at({ids}, i + 1) AS cell))).cell"
    )


def _exact_mean_col() -> Column:
    """The PARITY-CRITICAL k-means mean over an ``x`` component column:
    inputs rounded to 6 decimals, summed in exact DECIMAL(18,6), divided
    by count, re-rounded to 6 — bit-reproducible on any partitioning and
    replayable in the unrolled-CTE SQL oracles.  Shared by
    ``kmeans_codebook`` and ``pq_codebooks_fit`` BECAUSE the fused
    trainer's value-identity contract (and the relational oracle replay)
    requires the two expressions to stay byte-identical."""
    return F.round(
        F.sum(F.round(F.col("x"), 6).cast("decimal(18,6)")).cast("double")
        / F.count("*"),
        6,
    )


def kmeans_codebook(
    df: DataFrame,
    dim: int,
    n_centroids: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    seed: int = 7,
) -> list[tuple[int, list[float]]]:
    """Distributed Lloyd's k-means — trains the coarse codebook that
    ``ivf_top_k`` / ``semantic_dedup`` consume (their docstrings promise
    "a trained codebook slots in unchanged"; this is the trainer).

    Per iteration: assignment is MAP-ONLY (current centroids ride as one
    parsed plan literal, the same broadcast-by-value pattern as IVF); the
    only shuffle is the (cell, pos) partial-agg of component sums, whose
    result is ``n_centroids × dim`` rows — control-plane-sized at ANY
    corpus size, the same driver-collect contract as the per-group count
    tables in aggregates.py. That is the MLlib iteration shape, minus a
    dependency.

    Determinism: component values are rounded to 6 decimals and summed in
    exact decimal, and each new centroid component is rounded to 6 — so
    every iteration's centroids (and therefore the whole fit) are
    bit-reproducible on any partitioning AND replicable in ANSI SQL (the
    oracle unrolls the iterations as CTEs). Cells that lose all members
    are dropped from the codebook (documented; the published recipe
    re-seeds, which would break engine parity).

    Returns ``[(cell_id, centroid)]`` sorted by cell id.
    """
    pairs = list(enumerate(_centroids(dim, n_centroids, seed)))
    v = F.col(vec_col).cast("array<double>")
    for _ in range(iters):
        cell = nearest_cell_of(_vec_s(vec_col), pairs)
        means = (
            # two-step select: a generator (posexplode) in the same select
            # as a HOF whose lambda aliases struct fields makes Spark's
            # ExtractGenerator drop the field names (col1/col2) — assign
            # first, explode second (same single-stage plan after collapse)
            df.select(cell.alias("cell"), v.alias("_v"))
            .select("cell", F.posexplode("_v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(_exact_mean_col().alias("c"))
            .collect()  # n_centroids × dim rows — control-plane-sized
        )
        acc: dict[int, dict[int, float]] = {}
        for r in means:
            acc.setdefault(r["cell"], {})[r["pos"]] = r["c"]
        pairs = [
            (cid, [comp[p] for p in range(dim)])
            for cid, comp in sorted(acc.items())
        ]
    return pairs


def pq_codebooks_fit(
    df: DataFrame,
    dim: int,
    m: int = 4,
    ksub: int = 8,
    iters: int = 1,
    vec_col: str = "embedding",
    seed: int = 11,
) -> list[list[list[float]]]:
    """Train ALL ``m`` PQ sub-codebooks in ONE corpus pass per iteration.

    Value-identical to ``m`` independent :func:`kmeans_codebook` fits over
    the subvector slices with seeds ``seed + j`` (pinned in tests): the
    per-``(j, cell, pos)`` exact-decimal means are independent across
    subspaces, so fusing the scans changes the SCHEDULE, not the
    arithmetic.  At corpus scale that is the difference between ``m``
    full reads of the vector table per iteration and one — each row
    explodes into its ``m`` (subspace, cell, subvector) rows map-side and
    a single hash aggregate keyed ``(j, cell, pos)`` produces every
    sub-codebook's component sums (``m × ksub × dsub`` rows on the
    driver, control-plane-sized).

    Returns the ``m`` trained sub-codebooks as centroid lists (re-indexed
    by sorted surviving cell id — the position-indexed form
    ``pq_encode``/``pq_top_k`` consume).
    """
    if dim % m:
        raise ValueError("dim must divide into m equal subvectors")
    dsub = dim // m
    v = F.col(vec_col).cast("array<double>")
    cbs = [
        list(enumerate(_centroids(dsub, ksub, seed + j))) for j in range(m)
    ]
    for _ in range(iters):
        per_sub = []
        for j in range(m):
            sub_s = f"slice({_vec_s(vec_col)}, {j * dsub + 1}, {dsub})"
            per_sub.append(
                F.struct(
                    F.lit(j).alias("j"),
                    nearest_cell_of(sub_s, cbs[j]).alias("cell"),
                    F.expr(sub_s).alias("s"),
                )
            )
        means = (
            # generator-per-select (the kmeans_codebook ExtractGenerator
            # rule): explode the subspace structs first, posexplode the
            # subvector second
            df.select(F.explode(F.array(*per_sub)).alias("r"))
            .select("r.j", "r.cell", F.posexplode("r.s").alias("pos", "x"))
            .groupBy("j", "cell", "pos")
            .agg(_exact_mean_col().alias("c"))
            .collect()  # m × ksub × dsub rows — control-plane-sized
        )
        acc: dict[int, dict[int, dict[int, float]]] = {}
        for r in means:
            acc.setdefault(r["j"], {}).setdefault(r["cell"], {})[
                r["pos"]
            ] = r["c"]
        cbs = [
            [
                (cid, [comp[p] for p in range(dsub)])
                for cid, comp in sorted(acc.get(j, {}).items())
            ]
            for j in range(m)
        ]
    return [[cent for _, cent in pairs] for pairs in cbs]


def ivfpq_codebooks_fit(
    df: DataFrame,
    dim: int,
    m: int = 4,
    ksub: int = 8,
    n_coarse: int = 8,
    iters: int = 1,
    vec_col: str = "embedding",
    coarse_seed: int = 7,
    pq_seed: int = 11,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Coarse codebook AND all ``m`` PQ sub-codebooks in ONE corpus pass
    per iteration — the full IVF-PQ training front-end fused (round-11,
    guide §1.2 "remove unnecessary passes").

    Value-identical to ``kmeans_codebook(df, dim, n_coarse, iters,
    seed=coarse_seed)`` + ``pq_codebooks_fit(df, dim, m, ksub, iters,
    seed=pq_seed)`` run separately (pinned in tests): the coarse fit
    rides as one more subspace branch (``j = -1``, the full vector) in
    the same explode, and the per-``(j, cell, pos)`` exact-decimal means
    are independent across branches — fusing changes the SCHEDULE, not
    the arithmetic.  At corpus scale this halves the training reads
    (one scan per iteration instead of two) and merges two driver
    collects into one control-plane-sized result
    (``(n_coarse × dim + m × ksub × dsub)`` rows).

    Returns ``(coarse_centroids, sub_codebooks)`` in the shapes
    :func:`ivf_pq_top_k` consumes.
    """
    if dim % m:
        raise ValueError("dim must divide into m equal subvectors")
    dsub = dim // m
    coarse_pairs = list(enumerate(_centroids(dim, n_coarse, coarse_seed)))
    cbs = [
        list(enumerate(_centroids(dsub, ksub, pq_seed + j))) for j in range(m)
    ]
    v = F.col(vec_col).cast("array<double>")
    for _ in range(iters):
        branches = [
            F.struct(
                F.lit(-1).alias("j"),
                nearest_cell_of(_vec_s(vec_col), coarse_pairs).alias("cell"),
                v.alias("s"),
            )
        ]
        for j in range(m):
            sub_s = f"slice({_vec_s(vec_col)}, {j * dsub + 1}, {dsub})"
            branches.append(
                F.struct(
                    F.lit(j).alias("j"),
                    nearest_cell_of(sub_s, cbs[j]).alias("cell"),
                    F.expr(sub_s).alias("s"),
                )
            )
        means = (
            # generator-per-select (the kmeans_codebook ExtractGenerator
            # rule): explode the branch structs first, posexplode second
            df.select(F.explode(F.array(*branches)).alias("r"))
            .select("r.j", "r.cell", F.posexplode("r.s").alias("pos", "x"))
            .groupBy("j", "cell", "pos")
            .agg(_exact_mean_col().alias("c"))
            .collect()  # control-plane-sized (see docstring)
        )
        acc: dict[int, dict[int, dict[int, float]]] = {}
        for r in means:
            acc.setdefault(r["j"], {}).setdefault(r["cell"], {})[
                r["pos"]
            ] = r["c"]
        coarse_pairs = [
            (cid, [comp[p] for p in range(dim)])
            for cid, comp in sorted(acc.get(-1, {}).items())
        ]
        cbs = [
            [
                (cid, [comp[p] for p in range(dsub)])
                for cid, comp in sorted(acc.get(j, {}).items())
            ]
            for j in range(m)
        ]
    return (
        [cent for _, cent in coarse_pairs],
        [[cent for _, cent in pairs] for pairs in cbs],
    )


def kmeans_fit(
    df: DataFrame,
    dim: int,
    n_centroids: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """``kmeans_codebook`` as a DataFrame: one (cell, pos, c) row per
    trained centroid component — the storable/joinable codebook form."""
    spark = df.sparkSession
    pairs = kmeans_codebook(df, dim, n_centroids, iters, vec_col, seed)
    rows = [
        (cid, pos, comp)
        for cid, cent in pairs
        for pos, comp in enumerate(cent)
    ]
    from dataengineer_spark.tuning import control_frame

    return control_frame(spark, rows, "cell int, pos int, c double")


# -- semantic dedup (SemDeDup-style) ----------------------------------------


def semantic_dedup(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    codebook: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): assign

    every vector to its nearest coarse centroid, compare pairs ONLY inside
    a cell, and drop any vector whose cell contains a more-than-
    ``threshold``-cosine-similar vector with a smaller id (deterministic
    min-id survivor, matching exact-dedup semantics in dedup.py).

    Returns (id, cell, dropped, kept_by) for every input row — ``kept_by``
    is the smallest same-cell near-duplicate id for dropped rows, NULL for
    survivors.

    Scale shape: one narrow pass assigns cells (codebook is a plan
    literal, broadcast by value); the pairwise stage is an equi-join on
    the cell id, so the quadratic factor is bounded by the largest CELL,
    not the corpus — with c cells over n rows that is ~(n/c)^2 per cell.
    At 100 TB raise ``n_centroids`` so cells stay executor-sized (the
    published recipe uses k-means with k ~ sqrt(n); the seeded-gaussian
    codebook here slots a trained one in unchanged). Cross-cell near-dups
    are missed by design — that is SemDeDup's stated recall trade.
    """
    # a trained codebook (kmeans_codebook) replaces the seeded default
    cents = codebook if codebook is not None else _centroids(dim, n_centroids, seed)
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).select(
        "*",
        nearest_cell("_v", cents).alias("cell"),
        l2_norm("_v").alias("_n"),
    )
    a = base.select(
        F.col("id").alias("id_a"), F.col("_v").alias("_va"),
        F.col("_n").alias("_na"), "cell",
    )
    b = base.select(
        F.col("id").alias("id_b"), F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"), "cell",
    )
    denom = F.col("_na") * F.col("_nb")
    # for each row, the smallest same-cell smaller-id near-duplicate
    dup_of = (
        a.join(b, on="cell")
        .where(F.col("id_a") > F.col("id_b"))
        .where(
            F.when(denom > 0, dot("_va", "_vb") / denom >= threshold)
            .otherwise(F.lit(False))
        )
        .groupBy(F.col("id_a").alias("id"))
        .agg(F.min("id_b").alias("kept_by"))
    )
    return (
        base.select("id", "cell")
        .join(dup_of, on="id", how="left")
        .select(
            "id",
            "cell",
            F.col("kept_by").isNotNull().alias("dropped"),
            "kept_by",
        )
    )


# -- product quantization (PQ / ADC) ----------------------------------------


def sqdist(a: str, b: str) -> Column:
    """Squared L2 distance of two array<double> SQL fragments (left fold,

    so the summation order is fixed — oracles replay it bit-for-bit)."""
    return F.expr(_sqdist_s(a, b))


def pq_codebook(
    dim: int, m: int = 8, ksub: int = 16, seed: int = 11
) -> list[list[list[float]]]:
    """Seeded default PQ codebook: ``m`` sub-codebooks of ``ksub`` centroids

    over ``dim/m``-dim subvectors.  In production train each sub-codebook
    with :func:`kmeans_codebook` over the subvector slices; the seeded
    variant keeps plans (and oracles) literal."""
    if dim % m:
        raise ValueError("dim must divide into m equal subvectors")
    rnd = random.Random(seed)
    return [
        [[rnd.uniform(-1.0, 1.0) for _ in range(dim // m)] for _ in range(ksub)]
        for _ in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebook: list[list[list[float]]],
    vec_col: str = "embedding",
    out: str = "pq_code",
) -> DataFrame:
    """Quantize each vector to ``m`` small codes: per subspace, the index

    of the nearest sub-centroid (squared L2; ties to the lower index via
    lexicographic struct min).  All plan-literal expressions — the encode
    is a map-only scan, and the code array is ~m bytes versus 8·dim for
    the raw vector: the representation that lets a 100 TB corpus's index
    fit in a fraction of the footprint and an ADC scan read 64× less.
    """
    dsub = len(codebook[0][0])
    # round-11: the whole m-code array parses as ONE SQL expression —
    # the per-subspace Column/lambda construction cost ~2 s of py4j
    # driver time per plan build (more than the encode's execution).
    # Expression structure is unchanged: argmin ||s-c||² ≡ argmax
    # s·c - ||c||²/2 (||s||² is constant per row), ONE fold carries all
    # ksub dot partial sums (``_matvec_s``), the half-norms fold in as
    # literals computed driver-side with the same left-fold order the
    # oracle repr's; max score wins with ties to the
    # LOWER index via the negated-index struct field (mirrors the SQL
    # oracle's list_max over {'s','ni'}).
    v = _vec_s(vec_col)
    codes = []
    for j, cb in enumerate(codebook):
        sub = f"slice({v}, {j * dsub + 1}, {dsub})"
        dots = _matvec_s(sub, cb)
        halves = sql_literal([_half_sqnorm(c) for c in cb])
        scores = f"zip_with({dots}, {halves}, (d, h) -> d - h)"
        best = (
            f"array_max(transform({scores}, "
            "(s, i) -> struct(s AS s, -i AS ni)))"
        )
        codes.append(f"CAST(-({best}.ni) AS INT)")
    return df.withColumn(out, F.expr("array(" + ", ".join(codes) + ")"))


def _half_sqnorm(c: list[float]) -> float:
    """||c||²/2 with an explicit left fold — the float-op order both the

    Spark literal and the SQL oracle reproduce."""
    acc = 0.0
    for x in c:
        acc = acc + x * x
    return acc * 0.5


def pq_top_k(
    corpus: DataFrame,
    query_vec: list[float],
    codebook: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str | None = None,
) -> DataFrame:
    """Approximate top-k by asymmetric distance (ADC): the query stays

    exact, the corpus is its PQ codes, and the distance is the sum over
    subspaces of a per-query lookup table LUT[j][code_j] — built once on
    the driver (m·ksub floats, plan-literal) so the scan does m array
    lookups + adds per row instead of a dim-wide fold.  No shuffle:
    orderBy+limit runs as per-partition top-k with a k·p driver merge.
    Pass ``code_col`` when the corpus is already encoded (the stored-index
    path); otherwise encodes on the fly.
    """
    from dataengineer_spark.tuning import array_lit

    dsub = len(codebook[0][0])
    if code_col is None:
        corpus = pq_encode(corpus, codebook, vec_col=vec_col, out="_pq")
        code_col = "_pq"
    lut = [
        [
            sum(
                (query_vec[j * dsub + t] - c[t]) * (query_vec[j * dsub + t] - c[t])
                for t in range(dsub)
            )
            for c in cb
        ]
        for j, cb in enumerate(codebook)
    ]
    code = F.col(code_col)
    terms = [
        F.element_at(array_lit(lut[j]), F.element_at(code, j + 1) + 1)
        for j in range(len(codebook))
    ]
    adist = terms[0]
    for t in terms[1:]:
        adist = adist + t
    scored = corpus.select(F.col(id_col), adist.alias("approx_dist"))
    return scored.orderBy(F.col("approx_dist").asc(), F.col(id_col).asc()).limit(k)


# -- random projection (Johnson-Lindenstrauss) ------------------------------


def random_projection_matrix(
    dim: int, out_dim: int, seed: int = 17
) -> list[list[float]]:
    """Gaussian JL projection rows scaled by 1/sqrt(out_dim): pairwise

    distances/angles survive within (1±eps) w.h.p. while vectors shrink
    dim/out_dim-fold — the cheap pre-step that makes LSH banding, PQ, and
    brute-force rescoring all read proportionally less."""
    rnd = random.Random(seed)
    s = 1.0 / math.sqrt(out_dim)
    return [[rnd.gauss(0.0, 1.0) * s for _ in range(dim)] for _ in range(out_dim)]


def project(vec: str, mat: list[list[float]]) -> Column:
    """``vec @ mat.T`` for an array<double> SQL fragment, as ONE fold
    over the input vector (:func:`_matvec_s` — one interpreted pass
    regardless of out_dim).  Map-only; no UDF."""
    return F.expr(_matvec_s(vec, mat))


def project_py(vec: list[float], mat: list[list[float]]) -> list[float]:
    """Driver-side twin of :func:`project` with the SAME left-fold float

    ordering, for projecting literal query vectors bit-identically."""
    out = []
    for row in mat:
        acc = 0.0
        for j, x in enumerate(vec):
            acc = acc + x * row[j]
        out.append(acc)
    return out


def embedding_dim_stats(
    df: DataFrame, vec_col: str = "embedding", scale: int = 6
) -> DataFrame:
    """Per-dimension distribution stats over an embedding column — the

    FIT step of feature standardization (and the drift monitor for
    embedding spaces): posexplode to (dim, x) rows, then one hash
    aggregate per dimension with exact decimal moment sums (inputs
    pre-rounded to ``scale`` digits), closing mean/stddev formulas on
    per-dim scalars.

    Output cardinality = vector width, never row count; the explode is
    map-side and the single shuffle carries (dim, partial-moment) rows
    thanks to partial aggregation — at 100 TB this is a textbook
    map-combine-reduce.  Output: (dim, n, mean, stddev, min_x, max_x),
    dim 1-based.
    """
    # decimal(18,·): widest input whose square still fits the 38-digit
    # cap exactly (same domain contract as aggregates.corr_stats)
    xd = F.round(F.col("_x").cast("double"), scale).cast(
        "decimal(18,%d)" % scale
    )
    exploded = df.select(
        F.posexplode(vec_col).alias("_d0", "_x")
    ).select((F.col("_d0") + 1).alias("dim"), xd.alias("_xd"))
    m = exploded.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("_xd").cast("double").alias("_s1"),
        F.sum(F.col("_xd") * F.col("_xd")).cast("double").alias("_s2"),
        F.min("_xd").cast("double").alias("min_x"),
        F.max("_xd").cast("double").alias("max_x"),
    )
    n = F.col("n").cast("double")
    var = (F.col("_s2") - F.col("_s1") * F.col("_s1") / n) / (n - 1)
    return m.select(
        "dim",
        "n",
        F.round(F.col("_s1") / n, scale).alias("mean"),
        F.round(F.when(var > 0, F.sqrt(var)).otherwise(0.0), scale).alias("stddev"),
        "min_x",
        "max_x",
    )


def probe_cells_py(
    query_vec: list[float], cents: list[list[float]], n_probe: int
) -> list[int]:
    """Driver-side probe-cell selection for a LITERAL query vector: the

    same left-fold dot products and the same (score desc, cell desc)
    tie order as the ``_cell_scores_s``/``reverse(array_sort(...))``
    expression path, so the resulting cell list is a shared constant an
    oracle can inline verbatim."""
    scored = []
    for i, cent in enumerate(cents):
        acc = 0.0
        for q, c in zip(query_vec, cent):
            acc = acc + q * c
        scored.append((acc, i))
    scored.sort(reverse=True)
    return [i for _, i in scored[:n_probe]]


def ivf_pq_top_k(
    corpus: DataFrame,
    query_vec: list[float],
    coarse: list[list[float]],
    pq_cb: list[list[list[float]]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """E3 ANN, IVF-PQ composite — the production ANN index shape (FAISS

    IVFPQ, public architecture): a coarse inverted file prunes the
    corpus to ``n_probe`` cells (plan-literal centroids, map-only cell
    assignment + an `IN` filter the scan can push down), and the
    surviving candidates score by PQ asymmetric distance (m table
    lookups + adds per row against a driver-built LUT).  Scan cost
    drops twice: |corpus|·n_probe/n_cells rows touched, ~m bytes read
    per row instead of 8·dim.  No shuffle anywhere — filter, map,
    TakeOrdered.

    Recall < 1 from both stages by design; raise ``n_probe`` and the
    PQ ``m`` to trade cost for recall.
    """
    c = (
        corpus.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("_cv")
        )
        .withColumn("_cell", nearest_cell("_cv", coarse))
        .where(F.col("_cell").isin(probe_cells_py(query_vec, coarse, n_probe)))
    )
    return pq_top_k(c, query_vec, pq_cb, k=k, id_col=id_col, vec_col="_cv")


# -- semantic decontamination ----------------------------------------------


def _unit_bench(bench_vectors: list[list[float]]) -> list[list[float]]:
    """Driver-side L2 normalization of the benchmark set — sequential
    square-sum → sqrt → per-element divide, plain IEEE doubles.  Shared
    by the expression and Arrow decontaminators so both fold the exact
    same unit vectors (the SQL oracle replays this sequence)."""
    import math

    unit = []
    for vec in bench_vectors:
        acc = 0.0
        for x in vec:
            acc += float(x) * float(x)
        nrm = math.sqrt(acc)
        if nrm == 0.0:
            # a zero benchmark vector has no direction to match (its
            # cosine is undefined against everything) — skip it rather
            # than ZeroDivisionError the whole job on one padded/missing
            # eval embedding
            continue
        unit.append([float(x) / nrm for x in vec])
    return unit


def semantic_decontaminate(
    corpus: DataFrame,
    bench_vectors: list[list[float]],
    vec_col: str = "embedding",
    threshold: float = 0.99,
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic twin of

    the n-gram/Bloom decontaminators (``preparation.bloom_contamination``):
    flag every corpus vector whose max cosine against ANY benchmark
    vector reaches ``threshold`` (a paraphrased eval item that n-gram
    overlap misses).

    Scale shape: the benchmark set is control-plane-sized (eval suites
    are thousands of items, not corpora) and rides into the plan as a
    LITERAL array of arrays — the corpus is scanned ONCE, map-only, no
    shuffle, no join; each row folds over the benchmark list with a
    sequential-sum cosine, so the whole operator is whole-stage-codegen
    and a SQL oracle replays the identical float sequence.  At 100 TB
    the cost is (rows × |bench| × dim) multiply-adds distributed over
    every executor, with nothing exchanged.

    Output: corpus columns + ``max_bench_sim`` (rounded 6) +
    ``contaminated``; callers keep ``~contaminated`` rows.

    Arithmetic contract (the oracle replays it): benchmark vectors are
    L2-normalized DRIVER-side (sequential square-sum → sqrt → per-element
    divide, plain IEEE doubles), so per corpus row the engine folds ONE
    dot product per benchmark vector, takes the max, and divides by the
    row's own norm — max commutes with the constant 1/|v| factor.  HOF
    lambdas are interpreted (not codegen), so cutting fold count per
    pair is a direct wall-clock win at any scale; the zero-norm guard
    re-folds the row norm once more, a ~2/|bench| overhead accepted for
    NULL-correct degenerate rows.
    """
    unit = _unit_bench(bench_vectors)
    if not unit:
        return corpus.select(
            "*",
            F.lit(None).cast("double").alias("max_bench_sim"),
            F.lit(False).alias("contaminated"),
        )
    bench = sql_literal(unit)
    v = _vec_s(vec_col)
    best_dot = f"array_max(transform({bench}, b -> {_dot_s(v, 'b')}))"
    best = F.expr(
        f"CASE WHEN {_l2_s(v)} > 0 THEN {best_dot} / {_l2_s(v)} END"
    )
    return corpus.select(
        "*",
        F.round(best, 6).alias("max_bench_sim"),
        # zero-norm corpus rows have undefined similarity → NOT
        # contaminated (a NULL flag would silently vanish from the
        # documented `keep ~contaminated` filter)
        F.coalesce(best >= F.lit(threshold), F.lit(False)).alias(
            "contaminated"
        ),
    )


def semantic_decontaminate_arrow(
    corpus: DataFrame,
    bench_vectors: list[list[float]],
    vec_col: str = "embedding",
    threshold: float = 0.99,
) -> DataFrame:
    """Arrow/numpy twin of :func:`semantic_decontaminate` — same contract
    (corpus columns + ``max_bench_sim`` round-6 + ``contaminated``), same
    driver-side benchmark normalization (``_unit_bench``), different
    engine layer: ``mapInPandas`` streams Arrow batches into ONE BLAS
    matmul ``corpus_batch @ benchᵀ`` per batch instead of the interpreted
    per-row HOF fold.  Dense multiply-adds at memory bandwidth vs
    interpreted lambdas is a ~3-10× constant-factor win with the identical
    scale shape: map-only, zero shuffle, benchmark matrix serialized once
    into the closure (control-plane-sized by contract).

    The expression twin stays the ORACLED query (DuckDB replays its exact
    float sequence); this path is pinned result-identical in tests
    (round-6 outputs agree — matmul reassociates the 64-term sums, which
    moves results by ≤1 ulp, invisible at 6 decimals).
    """
    import numpy as np

    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        StructField,
        StructType,
    )

    unit = _unit_bench(bench_vectors)
    if not unit:
        return corpus.select(
            "*",
            F.lit(None).cast("double").alias("max_bench_sim"),
            F.lit(False).alias("contaminated"),
        )
    bench_t = np.asarray(unit, dtype=np.float64).T  # (dim, m)
    out_schema = StructType(
        list(corpus.schema.fields)
        + [
            StructField("max_bench_sim", DoubleType()),
            StructField("contaminated", BooleanType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ok = pdf[vec_col].notna()
            n = len(pdf)
            best = np.full(n, np.nan)
            if ok.any():
                mat = np.stack(pdf.loc[ok, vec_col].to_numpy()).astype(
                    np.float64
                )
                nrm = np.linalg.norm(mat, axis=1)
                best_dot = (mat @ bench_t).max(axis=1)
                with np.errstate(divide="ignore", invalid="ignore"):
                    best[ok.to_numpy()] = np.where(
                        nrm > 0, best_dot / nrm, np.nan
                    )
            out = pdf.copy()
            # UNROUNDED here: the round-6 contract is applied JVM-side
            # AFTER the UDF (F.round below), so both engine twins round
            # through the one BigDecimal(Double.toString) code path — no
            # Python emulation of Java's HALF_UP-on-string semantics to
            # drift (JDK<19 Double.toString is not always the shortest
            # repr, so a repr-based emulation can disagree at halves)
            out["max_bench_sim"] = np.where(np.isnan(best), np.nan, best)
            # NaN >= threshold is False in numpy — same zero-norm /
            # missing-vector semantics as the expression twin's coalesce
            with np.errstate(invalid="ignore"):
                out["contaminated"] = best >= threshold
            yield out

    return corpus.mapInPandas(score, out_schema).withColumn(
        "max_bench_sim", F.round("max_bench_sim", 6)
    )


def ann_recall(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    q_id: str = "vec_id",
    c_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    codebook: list[list[float]] | None = None,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Recall@k audit of the IVF index against exact brute force — the

    number an ANN deployment is tuned by (raise ``n_probe`` until recall
    clears the product bar, then stop paying for more cells). Ground
    truth comes from :func:`pairwise_top_k` (broadcast probe set, exact
    cosine — the probe side is dimension-sized and guarded, so this
    audits on a sample, never a corpus×corpus cartesian); the candidate
    ranking under test is :func:`ivf_top_k` with the same tie rules.
    The overlap join is per-(query, corpus) equi — tiny (|probe|·k rows)
    — and recall is an exact int/int division.

    Output: (query_id, n_hit, recall) per probe query, ordered by
    query_id; mean over the column is the headline recall@k.
    """
    exact = pairwise_top_k(
        queries, corpus, k=k, q_id=q_id, c_id=c_id, vec_col=vec_col,
        allow_quadratic=allow_quadratic,
    ).select("query_id", "corpus_id")
    approx = ivf_top_k(
        queries, corpus, dim, k=k, n_centroids=n_centroids, n_probe=n_probe,
        q_id=q_id, c_id=c_id, vec_col=vec_col, seed=seed, codebook=codebook,
    ).select("query_id", "corpus_id", F.lit(1).alias("_hit"))
    per_q = (
        exact.join(approx, ["query_id", "corpus_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
            F.count("*").alias("_n"),
        )
    )
    return per_q.select(
        "query_id",
        "n_hit",
        (F.col("n_hit") / F.col("_n")).alias("recall"),
    ).orderBy("query_id")


def pq_reconstruction_error(
    df: DataFrame,
    codebook: list[list[list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-subspace PQ reconstruction-error audit — the companion number

    to :func:`ann_recall` for the compressed path: how much signal the
    m×ksub codebook destroys, per subspace, so a codebook retrain is
    triggered by evidence (a drifting subspace) instead of recall
    regressions downstream. Each row quantizes (map-only, the
    :func:`pq_encode` expressions), reconstructs from the literal
    codebook, and folds the squared error per subspace; the corpus mean
    uses an exact DECIMAL(28,12) sum, so the MSE is order-independent
    and engine-portable. One explode(m)+hash-aggregate over m keys.

    Output: (subspace, n_vecs, mse) ordered by subspace.
    """
    enc = pq_encode(df, codebook, vec_col=vec_col, out="_codes")
    dsub = len(codebook[0][0])
    # round-11: one parsed expression for the whole per-subspace error
    # array (same struct/sqdist shapes the Column loop built — see the
    # pq_encode build-time note)
    v = _vec_s(vec_col)
    per_sub = []
    for j, cb in enumerate(codebook):
        sub = f"slice({v}, {j * dsub + 1}, {dsub})"
        cent = (
            f"element_at({sql_literal(cb)}, "
            f"element_at(`_codes`, {j + 1}) + 1)"
        )
        per_sub.append(
            f"struct({j} AS subspace, {_sqdist_s(sub, cent)} AS se)"
        )
    errs = enc.select(
        F.explode(F.expr("array(" + ", ".join(per_sub) + ")")).alias("x")
    ).select("x.subspace", "x.se")
    agg = errs.groupBy("subspace").agg(
        F.count("*").alias("n_vecs"),
        F.sum(F.col("se").cast("decimal(28,12)")).alias("_sum"),
    )
    return agg.select(
        "subspace",
        "n_vecs",
        F.round(F.col("_sum").cast("double") / F.col("n_vecs"), 6).alias("mse"),
    ).orderBy("subspace")

def _complete_vectors(
    df: DataFrame, vec_col: str, dim: int, out: str = "_v"
) -> DataFrame:
    """Project to COMPLETE ``dim``-slot vectors only: NULL, short, and
    NULL-element rows are excluded, and the vector is sliced to exactly
    ``dim`` so every downstream dot/norm/moment covers the same slots.
    Shared by :func:`pca_power_top` and :func:`embedding_outlier_report`
    (their SQL oracles replay the identical guard) — letting ragged
    rows through counts them in denominators while their NULL products
    contribute nothing to the sums (review-caught bias, twice)."""
    v = F.col(vec_col).cast("array<double>")
    return (
        df.where(F.col(vec_col).isNotNull())
        .where(F.size(v) >= dim)
        .where(~F.exists(F.slice(v, 1, dim), lambda e: e.isNull()))
        .select(F.slice(v, 1, dim).alias(out))
    )


def pca_power_top(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 2,
) -> DataFrame:
    """Top principal component by distributed power iteration (public
    method — the first step of embedding whitening / spectral dedup):
    v ← normalize((X−μ)ᵀ(X−μ) v), never materializing the d×d
    covariance — each iteration is two corpus-wide map-side-combinable
    aggregates (the per-row projection s = (x−μ)·v, then the d
    weighted column sums Σ s·(x−μ)), the classic scalable PCA shape.

    Engine-portable exactness (the kmeans_fit recipe): every CROSS-ROW
    sum is decimal-exact — per-row double contributions are rounded to
    a fixed scale (half-away-from-zero on both engines; a raw
    double→decimal cast's tie handling is NOT pinned cross-engine) and
    summed as DECIMAL, so float summation order can never leak into the
    result; all PER-ROW folds run in pinned dimension order with no
    injected initial term; sqrt is IEEE-correctly-rounded.  An oracle
    replays both iterations bit-for-bit.  The start vector is the
    deterministic uniform direction (1/√d, …); the result's sign
    follows the iteration (flip externally if a convention is needed).

    Scale shape: ``iters + 1`` corpus passes, each ONE posexplode +
    (pos)-keyed partial aggregate whose result is ``dim`` rows —
    control-plane-sized at ANY corpus size, collected to the driver and
    re-embedded as plan literals (the ``kmeans_codebook`` contract;
    effectful-at-build).  An earlier form kept the 1-row state as a
    broadcast frame with ``2·dim`` UNROLLED scalar aggregate
    expressions per pass — correct data plan, but Catalyst spent more
    wall ANALYZING/codegen-ing the 192-expression tree than executing
    it (~equal wall at sf0.001 and sf0.1); two aggregate expressions
    over exploded (pos, value) pairs produce the identical partial
    sums with a constant-size plan.  Only COMPLETE vectors
    participate: NULL, short, and NULL-element rows are excluded up
    front — letting sums merely skip NULL terms would divide each
    dimension's mean by the GLOBAL row count while its numerator
    covered fewer rows (review-caught centering bias on ragged
    inputs).

    Driver-side arithmetic is IEEE-double, bit-identical to the
    expression form it replaced: ``float(Decimal)`` is the correctly
    rounded decimal→double cast, Python ``/`` and ``math.sqrt`` are
    the same IEEE ops Spark's DOUBLE division/sqrt compile to, and the
    norm fold keeps the same 0.0-seeded term order.

    Output: one row per dimension (dim 1-based, loading, eigenvalue) —
    eigenvalue is the covariance-scaled Rayleigh estimate ‖Cv‖/(n−1),
    identical on every row; loadings and eigenvalue rounded to 6.
    """
    import math

    from dataengineer_spark.tuning import array_lit, transient_persist

    dec_mu = "decimal(28,12)"
    dec_c = "decimal(28,9)"
    # the ``iters + 1`` aggregate passes all consume the same complete-
    # vector projection; uncached, every pass re-runs the scan + fan-out
    # + completeness filter (round-11, guide §5 caching rule: reused AND
    # cheaper than recompute).  Serialized MEMORY_AND_DISK blocks, freed
    # DETERMINISTICALLY after the last collect below — the caches never
    # outlive the fit, so there is nothing for a 100 TB run to leak.
    x = transient_persist(_complete_vectors(df, vec_col, dim))
    per = (
        x.select(F.posexplode("_v").alias("_p", "_e"))
        .groupBy("_p")
        .agg(
            F.sum(F.round("_e", 12).cast(dec_mu)).alias("_s"),
            F.count("*").alias("_n"),
        )
        .collect()  # dim rows — control-plane-sized
    )
    n = per[0]["_n"] if per else 0
    mu_by = {r["_p"]: r["_s"] for r in per}
    mu: list[float | None] = [
        float(mu_by[j]) / n
        if mu_by.get(j) is not None and n
        else None
        for j in range(dim)
    ]
    w: list[float | None] = [1.0 / math.sqrt(dim)] * dim
    lam: float | None = 0.0
    for _ in range(iters):
        mu_c = array_lit(mu)
        diff = F.zip_with(F.col("_v"), mu_c, lambda a, b: a - b)
        s = F.aggregate(
            F.zip_with(diff, array_lit(w), lambda d, wv: d * wv),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )
        # generator-per-select (the kmeans_codebook ExtractGenerator
        # rule): compute the HOFs first, posexplode in a second select
        per = (
            x.select(diff.alias("_d"), s.alias("_sc"))
            .select("_sc", F.posexplode("_d").alias("_p", "_dv"))
            .groupBy("_p")
            .agg(
                F.sum(
                    F.round(F.col("_sc") * F.col("_dv"), 9).cast(dec_c)
                ).alias("_c")
            )
            .collect()  # dim rows — control-plane-sized
        )
        c_by = {r["_p"]: r["_c"] for r in per}
        c = [
            float(c_by[j]) if c_by.get(j) is not None else None
            for j in range(dim)
        ]
        if any(e is None for e in c):
            nrm = None
        else:
            acc = 0.0
            for e in c:
                acc += e * e
            nrm = math.sqrt(acc)
        if nrm is not None and nrm > 0:
            w = [e / nrm for e in c]
        else:
            w = [None] * dim
        lam = nrm
    # eigenvalue via IEEE double division (Python raises on /0.0 where
    # DOUBLE yields inf/NaN — replicate the expression-form result)
    if lam is None:
        ev: float | None = None
    else:
        den = float(n - 1)
        if den == 0.0:
            ev = float("nan") if lam == 0.0 else math.copysign(
                float("inf"), lam
            )
        else:
            ev = lam / den
    # last pass done — free the cached projection before returning (the
    # output below is dim-sized driver rows, nothing reads x again)
    x.unpersist()
    rows = [(j + 1, w[j], ev) for j in range(dim)]
    from dataengineer_spark.tuning import control_frame

    out = control_frame(
        df.sparkSession, rows, "dim int, loading double, eigenvalue double"
    )
    return out.select(
        "dim",
        F.round("loading", 6).alias("loading"),
        F.round("eigenvalue", 6).alias("eigenvalue"),
    ).orderBy("dim")


def embedding_outlier_report(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    n_centroids: int = 8,
    seed: int = 7,
    z: float = 2.0,
    codebook: list[list[float]] | None = None,
) -> DataFrame:
    """Embedding-space outlier census (public recipe — the embedding QA
    pass before ANN indexing or semantic dedup): assign every vector to
    its nearest coarse centroid, measure its cosine affinity to that
    centroid, and per cell count the vectors more than ``z`` standard
    deviations BELOW the cell's mean affinity — the "doesn't belong
    anywhere" rows that are usually encoder failures, empty inputs, or
    corrupted modalities.

    Affinity = best_dot/|v| (centroids are unit-norm, so this is the
    cosine to the assigned centroid); zero-norm vectors have no
    affinity and are excluded up front, and — the pca_power_top guard —
    so are NULL, short, and NULL-element vectors: a ragged vector's
    dot against a ``dim``-length centroid is NULL, so without the
    guard the row would still pass the norm filter and inflate its
    cell's ``n`` via count(*) while contributing nothing to the moment
    sums, biasing mean/std low and making the row unflaggable
    (review-caught).  Cell moments are DECIMAL-exact
    (per-row affinities rounded to 9 then summed — float order can
    never leak), the stddev clamps at zero before the sqrt (the
    paired-t lesson), and the flag compares against the same exact
    moments on both engines.

    Scale shape: one map-only assignment pass (broadcast plan-literal
    codebook, the IVF shape) + ONE cell-keyed aggregate; output is
    codebook-sized.  Output: (cell, n, mean_sim, std_sim, n_outliers)
    ordered by cell; moments rounded to 6.
    """
    cents = (
        codebook
        if codebook is not None
        else _centroids(dim, n_centroids, seed)
    )
    base = _complete_vectors(df, vec_col, dim)
    best = F.array_max(F.expr(_cell_scores_s("_v", cents)))
    nrm = l2_norm("_v")
    assigned = base.select(
        best.getField("cell").alias("cell"),
        (best.getField("score") / nrm).alias("_sim"),
        nrm.alias("_n"),
    ).where(F.col("_n") > 0)
    # affinity is a cosine (|sim| <= 1), so DECIMAL(10,9) holds it and
    # its square stays at (21,18) — a wider base type would push the
    # square past DuckDB's hard 38-digit width and kill the oracle
    sim_dec = F.round(F.col("_sim"), 9).cast("decimal(10,9)")
    stats = assigned.groupBy("cell").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(sim_dec).alias("_s"),
        F.sum(sim_dec * sim_dec).alias("_s2"),
    )
    from dataengineer_spark.operators.aggregates import exact_moment_stats

    mean, std = exact_moment_stats(F.col("n"), F.col("_s"), F.col("_s2"))
    moments = stats.select("cell", "n", mean.alias("_m"), std.alias("_sd"))
    flagged = (
        assigned.join(F.broadcast(moments), "cell")
        .select(
            "cell",
            F.when(
                F.col("_sd").isNotNull()
                & (F.col("_sim") < F.col("_m") - z * F.col("_sd")),
                1,
            )
            .otherwise(0)
            .alias("_out"),
        )
        .groupBy("cell")
        .agg(F.sum("_out").cast("bigint").alias("n_outliers"))
    )
    return (
        moments.join(flagged, "cell")
        .select(
            F.col("cell").cast("int").alias("cell"),
            "n",
            F.round("_m", 6).alias("mean_sim"),
            F.round("_sd", 6).alias("std_sim"),
            "n_outliers",
        )
        .orderBy("cell")
    )
