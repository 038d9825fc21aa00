"""Deduplication operators (E1/E2 + SimHash + n-gram Jaccard).

Training-data-pipeline dedup at 100 TB (SURVEY.md §2.9): exact dedup is a
hash shuffle; near-dup never compares all pairs — candidate generation is
always a bucket equi-join (LSH banding / simhash prefix), verification runs
only inside buckets. Everything below is native Column expressions (higher-
order functions over arrays, JVM-side) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from dataengineer_spark.operators.preparation import (
    _poly_hash_sql, _poly_unrolled_sql,
)
from dataengineer_spark.tuning import (
    lineage_cut,
    sql_literal,
    tie_lifetime,
    transient_persist,
)


# deterministic affine-hash modulus for the MinHash family: the Mersenne
# prime 2^31-1 keeps a·h + b within int64 under ANSI overflow checking
# (a, h < 2^31 → product < 2^62)
_MERSENNE = (1 << 31) - 1

#: In-bucket pair-workload ceiling for the EXACT blocked-compare baselines
#: (same contract as similarity.QUADRATIC_ROW_LIMIT, measured in pairs
#: because blocking changes the workload unit): Σ_b n_b·(n_b−1)/2 compares.
#: Sized so the bench/oracle corpora pass with headroom (sf0.1 documents
#: ≈ 0.7 M in-bucket pairs on the token-count/5 blocking) while a 10×
#: corpus (~70 M pairs — quadratic growth) refuses instead of silently
#: running for half an hour; the scale path past it is LSH banding.
QUADRATIC_PAIR_LIMIT = 2_000_000


def guard_bucket_quadratic(
    df: DataFrame,
    bucket_col: str,
    scale_fn: str,
    allow_quadratic: bool = False,
    limit: int | None = None,
) -> None:
    """Fail loudly when a blocking column's exact all-pairs workload is

    past the exact-baseline budget.  The blocked self-join compares
    Σ_b n_b·(n_b−1)/2 pairs — quadratic in corpus size whenever bucket
    occupancy grows with the corpus (token-length blocking does; VERDICT
    r8 item 2) — so the guard prices the actual workload, not the row
    count.  Cost: ONE narrow aggregate over the bucket column (Catalyst
    prunes every other column out of the probe scan), a fraction of one
    verify pass.  ``allow_quadratic=True`` (same opt-in name as the
    other exact-baseline guards) is the caller's explicit opt-in for
    known-small corpora (the DuckDB-oracle replay corpus passes the
    limit on its own).

    NULL buckets are excluded from the probe: the guarded equi-join
    never matches ``NULL == NULL``, so rows with a NULL blocking key
    produce ZERO pairs and must not be priced as one giant bucket
    (review r9 — an all-NULL-text corpus would otherwise refuse a
    workload of zero compares).
    """
    if allow_quadratic:
        return
    cap = QUADRATIC_PAIR_LIMIT if limit is None else limit
    # double math: a degenerate single bucket of n rows prices n²/2,
    # which overflows int64 under ANSI at n ≈ 4.3 B — the guard must
    # report the blow-up, not die computing it
    n = F.col("count").cast("double")
    total = (
        df.where(F.col(bucket_col).isNotNull())
        .groupBy(bucket_col)
        .count()
        .agg(F.coalesce(F.sum(n * (n - F.lit(1.0)) / F.lit(2.0)), F.lit(0.0)))
        .first()[0]
    )
    if total > cap:
        raise ValueError(
            f"blocking on {bucket_col!r} yields {int(total):,} in-bucket "
            f"pairs (> {cap:,}): this exact baseline compares every pair "
            f"per bucket and grows quadratically with the corpus. Use "
            f"{scale_fn} at corpus scale, or pass allow_quadratic=True "
            f"if you really mean it."
        )


def exact_dedup(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """E1 — exact dedup (one hash shuffle on the dedup keys)."""
    return df.dropDuplicates(subset) if subset else df.distinct()


def content_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """E1 variant — dedup by content hash keeping the lowest id.

    ``min(id) over (partition by hash)`` instead of ``dropDuplicates`` so
    the survivor is deterministic (dropDuplicates keeps an arbitrary row),
    and instead of agg+semi-join so upstream expressions evaluate once and
    the input shuffles once (the hash is an 8-byte shuffle key; rows of
    one content group land together, no sort needed — min is an unbounded
    window aggregate).
    """
    from pyspark.sql import Window as W

    h = F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256)
    keep = F.min(id_col).over(W.partitionBy(h))
    return (
        df.withColumn("_keep", keep)
        .where(F.col(id_col) == F.col("_keep"))
        .drop("_keep")
    )


def content_dedup_by(
    df: DataFrame, text_col: str, id_col: str, priority: Column
) -> DataFrame:
    """E1 variant — content dedup with a SURVIVORSHIP RULE: within each

    content cluster keep the row with the highest ``priority`` (ties
    broken by lowest id), not the arbitrary/min-id row — the curation
    form of dedup, where re-crawls differ in metadata quality (longer
    source chain, better lang confidence, fresher snapshot) and the
    keeper should be the best copy, not the first.

    Same single-shuffle shape as ``content_dedup``: one window over the
    256-bit content hash, rank by (priority desc, id asc) — the text
    moves once, the rule is an ordinary ORDER BY, deterministic on any
    engine/partitioning.
    """
    from pyspark.sql import Window as W

    h = F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256)
    w = W.partitionBy(h).orderBy(priority.desc(), F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def incremental_dedup(
    new_batch: DataFrame,
    seen: DataFrame,
    text_col: str,
    seen_fingerprint_col: str | None = None,
) -> DataFrame:
    """E1+O6 — dedup an incoming batch against all previously-ingested
    content: anti join on the content hash. The ``seen`` side should be
    the (tiny relative to data) distinct-fingerprint projection of prior
    batches — at 100 TB the fingerprint table is ~32 bytes/doc, lives as
    its own lake table, and the anti join shuffles hashes only, never
    text. This is the per-batch dedup step of a continuously-fed corpus:
    each micro-batch/run filters itself against the fingerprint table,
    then appends its own new fingerprints
    (``content_fingerprint(new_batch, text_col)``).

    ``seen_fingerprint_col``: name of the column in ``seen`` that ALREADY
    holds sha2-256 fingerprints (the stored-table case — re-hashing a
    hash would match nothing).  When None, ``seen`` is raw text and its
    ``text_col`` is hashed here.
    """
    fp = F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256)
    if seen_fingerprint_col is not None:
        seen_fp = seen.select(
            F.col(seen_fingerprint_col).alias("_fp")
        ).distinct()
    else:
        seen_fp = seen.select(fp.alias("_fp")).distinct()
    return (
        new_batch.withColumn("_fp", fp)
        .join(seen_fp, "_fp", "left_anti")
        .drop("_fp")
    )


def content_fingerprint(
    df: DataFrame, text_col: str, out_col: str = "fingerprint"
) -> DataFrame:
    """The ~32-byte/doc projection a batch appends to the fingerprint
    lake table after passing ``incremental_dedup`` — feed it back as
    ``seen`` with ``seen_fingerprint_col=out_col`` on the next batch."""
    return df.select(
        F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256).alias(out_col)
    ).distinct()


# -- shingling --------------------------------------------------------------


def char_shingles(text: Column | str, n: int = 5) -> Column:
    """Distinct character n-grams of ``text`` as array<string>."""
    c = F.col(text) if isinstance(text, str) else text
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(c) - F.lit(n - 1), F.lit(1))),
            lambda i: c.substr(i, F.lit(n)),
        )
    )


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams (space-joined) as array<string>."""
    from dataengineer_spark.operators.textops import trim_ws

    c = F.col(text) if isinstance(text, str) else text
    words = F.split(trim_ws(c), r"\s+")
    k = F.greatest(F.size(words) - F.lit(n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        )
    )


def _hashed_shingles_sql(text_sql: str, n: int) -> str:
    """SQL text of the distinct char n-gram shingles of ``text_sql`` as
    xxhash64 longs — the verify-stage representation: exact-Jaccard
    verification only consumes set SIZES (|∩|, |A|, |B|), which hashing
    preserves, and int64 array intersects run ~2-4× faster than
    shingle-string ones on million-pair candidate sets (same
    2⁻⁶⁴-collision exactness budget the xxhash64 LSH family already
    accepts).  Every window is hashed and the hashes deduped: the set is
    the one ``char_shingles`` + per-shingle hashing gives (equal strings
    hash equal), without materializing a shingle string.  Texts shorter
    than ``n`` keep ONE shingle, the whole text (``greatest(L-n+1, 1)``).
    ``text_sql`` must be a plain (quoted) column reference."""
    return (
        f"array_distinct(transform(sequence(1, greatest(length({text_sql}) "
        f"- {n - 1}, 1)), i -> xxhash64(substr({text_sql}, i, {n}))))"
    )


def _jaccard_sql(a: str, b: str) -> str:
    """SQL text of the exact Jaccard of two DISTINCT array columns from one
    intersect pass: |U| = |A| + |B| − |∩|, so the array_union walk is
    never built."""
    inter = f"size(array_intersect({a}, {b}))"
    return f"{inter} / (size({a}) + size({b}) - {inter})"


# -- MinHash + LSH banding --------------------------------------------------


def _affine_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine MinHash family."""
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, _MERSENNE - 1), rnd.randrange(0, _MERSENNE - 1))
        for _ in range(num_hashes)
    ]


def _shingle_hashes_sql(text_sql: str, n: int) -> str:
    """SQL text of the xxhash64-family shingle hashes: array<bigint> of
    the DISTINCT ``pmod(xxhash64(shingle), 2^31-1)`` values of
    ``text_sql``'s char n-grams, computed positionally — the shingle
    strings are never materialized.

    This is the signature-stage fast path: ``char_shingles`` +
    per-shingle hashing allocates every shingle string and runs a
    distinct-on-strings pass; this form hashes ``substr`` windows
    directly.  MinHash folds a min over hash VALUES, so deduping the
    hash longs instead of the shingle strings yields bit-identical
    signatures (equal strings hash equal; a colliding pair can only drop
    a duplicate value the min ignores).  Texts shorter than ``n`` chars
    have ONE shingle — the whole text — exactly as ``char_shingles``
    emits it (``greatest(L-n+1, 1)``).  Built as one parsed string
    because Column-API construction costs ~200 py4j round trips per use
    while one ``F.expr`` parse is a single trip — and query callables
    rebuild their plan on every invocation.

    ``text_sql`` must be a plain (quoted) column reference: the
    positional walk reads it per position and the parser inlines it
    verbatim.
    """
    per_pos = f"pmod(xxhash64(substr({text_sql}, i, {n})), {_MERSENNE})"
    short = f"array(pmod(xxhash64({text_sql}), {_MERSENNE}))"
    full = (
        f"transform(sequence(1, length({text_sql}) - {n - 1}), i -> {per_pos})"
    )
    return (
        f"array_distinct(CASE WHEN length({text_sql}) >= {n} "
        f"THEN {full} ELSE {short} END)"
    )


def _shingle_hashes_from_cps_sql(text_sql: str, cps_sql: str, n: int) -> str:
    """Portable-family shingle hashes: array<bigint> of the DISTINCT
    ``preparation._poly_hash_sql`` values of ``text_sql``'s char n-grams,
    read positionally from a PRECOMPUTED codepoint array column
    ``cps_sql`` (see ``_expr_signatures`` — the array is built once per
    row in a prior projection; positions align with ``substr`` 1:1) by
    the unrolled fold ``preparation._poly_unrolled_sql``.  Texts shorter
    than ``n`` keep ONE shingle, the whole text, hashed by the
    string-based fold."""
    per_pos = _poly_unrolled_sql(
        lambda j: f"element_at({cps_sql}, i + {j})" if j
        else f"element_at({cps_sql}, i)",
        n,
    )
    short = f"array({_poly_hash_sql(text_sql)})"
    full = (
        f"transform(sequence(1, length({text_sql}) - {n - 1}), i -> {per_pos})"
    )
    return (
        f"array_distinct(CASE WHEN length({text_sql}) >= {n} "
        f"THEN {full} ELSE {short} END)"
    )


def _minhash_min_sql(hashes_sql: str, num_hashes: int, seed: int = 42) -> str:
    """SQL text of the MinHash signature over a PRE-STAGED hash-array
    column: component j is ``min over h of (a_j·h + b_j) mod p`` for the
    affine family ``_affine_params(num_hashes, seed)``, one
    ``array_min(transform(...))`` pass per component (values pinned
    against a pure-Python reference in tests/test_operators.py).

    Why this shape (round-12): a single ``aggregate`` fold carrying the
    running minimum vector allocates TWO ``num_hashes``-wide arrays per
    shingle value inside the Catalyst interpreter — 2·|shingles| array
    allocations per row; this form allocates ``num_hashes`` arrays of
    |shingles| width per row instead (one per pass), measured −20% on
    the signature stage at sf0.1 for both hash families.

    ``hashes_sql`` MUST be a plain (quoted) column reference to a
    previously-projected hash array — the parser inlines it verbatim, so
    an expression here would recompute the shingle stage ``num_hashes``
    times.  The array must hold no NULL: ``_expr_signatures`` never
    folds a NULL text's hashes.
    """
    params = _affine_params(num_hashes, seed)
    passes = ",".join(
        f"array_min(transform({hashes_sql}, "
        f"h -> pmod({a} * h + {b}, {_MERSENNE})))"
        for a, b in params
    )
    return f"array({passes})"


def _expr_signatures(
    df: DataFrame, id_col: str, text_col: str, shingle_size: int,
    num_hashes: int, portable: bool, seed: int = 42,
    assume_fanned: bool = False,
) -> DataFrame:
    """(id, _sig) rows on the expression engine — shared signature stage
    for the char-shingle LSH pipelines.

    Fans the input out to the session parallelism first (``tuning.
    fan_out``): signature folding runs in the Catalyst interpreter, so a
    single-row-group input that scans as ONE task serializes the whole
    stage — at production scale (hundreds of thousands of splits) the
    fan-out is a structural no-op.  Callers that already routed the
    frame through ``fan_out`` pass ``assume_fanned=True`` and skip even
    the plan-string fast-path check (ADVICE r8: the redundant call was
    an identity no-op but still fetched a plan string per invocation).
    Streaming micro-batch frames skip the partition-count probe (no
    ``.rdd`` on a streaming plan); their parallelism comes from the
    source.

    The signature expression is built as parsed SQL strings (the
    shingle-hash stage, then ``_minhash_min_sql``) at ~1/200th the
    driver-side build cost of Column-API construction; values are
    pinned against a pure-Python reference in tests.

    Portable family (round-11 opt): the per-position polynomial read
    ``ascii(substr(text, i+j, 1))`` — two interpreted nodes per char per
    position — is replaced by ``element_at`` reads of a codepoint array
    computed ONCE per row in a prior projection
    (``transform(split(text, ''), ascii)``; ``split`` on the empty
    pattern yields exactly the characters in order, no empty elements,
    so positions align with ``substr`` 1:1 and every fold sees the same
    BIGINT operands → bit-identical signatures; measured −47% on the
    signature stage at sf0.1).
    Texts shorter than the shingle width keep the original string-based
    fold verbatim (the CASE branches evaluate lazily per row).

    NULL text has no shingles, so its signature is NULL.
    """
    from dataengineer_spark.tuning import fan_out

    fanned = df if assume_fanned else fan_out(df)
    idq, textq = f"`{id_col}`", f"`{text_col}`"
    if portable:
        cps_sql = (
            f"transform(split({textq}, ''), x -> CAST(ascii(x) AS BIGINT))"
        )
        staged = fanned.selectExpr(idq, textq, f"{cps_sql} AS _cps")
        hs_sql = _shingle_hashes_from_cps_sql(textq, "`_cps`", shingle_size)
    else:
        staged = fanned
        hs_sql = _shingle_hashes_sql(textq, shingle_size)
    # stage the shingle-hash array in its OWN projection (non-cheap and
    # referenced num_hashes times by the fold below — CollapseProject
    # keeps it un-inlined, so the shingle stage runs once per row), then
    # fold the signature via the allocation-light array_min form
    # text rides along to the fold's projection for the NULL guard only
    hashed = staged.selectExpr(idq, textq, f"{hs_sql} AS _hs")
    fold = _minhash_min_sql("`_hs`", num_hashes, seed)
    return hashed.selectExpr(idq, f"IF({textq} IS NULL, NULL, {fold}) AS _sig")


#: The MinHash near-dup hash families, by the name a ``signature_table``
#: index is stamped with.  Buckets of different families never match.
NEARDUP_FAMILIES = ("xxhash64", "portable", "arrow")


def _check_family(bands_df: DataFrame | None, family: str) -> None:
    """The one hash-family fence: ``family`` must be a known family and,
    when ``bands_df`` is a stored ``signature_table`` index, the family
    whose stamp its bucket column carries (the stamp survives the parquet
    round trip in Spark's schema footer).  A cross-family probe would
    silently match nothing, so it fails loudly instead."""
    if family not in NEARDUP_FAMILIES:
        raise ValueError(
            f"unknown near-dup hash family {family!r}: expected one of "
            f"{', '.join(NEARDUP_FAMILIES)}"
        )
    if bands_df is None or "bucket" not in bands_df.columns:
        return
    stamped = bands_df.schema["bucket"].metadata.get("neardup_family")
    if stamped is not None and stamped != family:
        raise ValueError(
            f"the stored index was built with the '{stamped}' signature "
            f"family but this probe uses '{family}' — cross-family "
            "buckets never match, so every duplicate would silently pass; "
            "probe with the family that built the index"
        )


def _family_bands(
    df: DataFrame, id_col: str, text_col: str, shingle_size: int,
    num_hashes: int, bands: int, family: str, assume_fanned: bool = False,
) -> DataFrame:
    """(id, band, bucket) MinHash-LSH band rows of hash ``family`` — the
    one place that picks the signature path and the bucket key:

    - ``"xxhash64"`` (the scale default): expression-engine signatures
      over xxhash64 shingle hashes, xxhash64 band keys;
    - ``"portable"``: expression-engine signatures over the polynomial
      shingle hash, and the band's joined signature values as a raw
      string key, so a SQL oracle can reproduce every key;
    - ``"arrow"``: vectorized byte-level signatures
      (``minhash_signatures_arrow``), xxhash64 band keys.

    NULL text has no shingles, so it gets no band rows (as in the DuckDB
    replay: ``_duck_shingles(NULL)`` is empty): its signature is NULL and
    the explode emits nothing.  Not a Filter: over a shared ``fan_out``
    base Catalyst pushes a Filter below the round-robin repartition of
    this branch only, and the signature and verify branches would stop
    sharing one exchange.

    The band exchange carries ONLY (id, band, bucket) — 24 bytes/row —
    never the shingle arrays (which the explode would duplicate ×bands).
    The bands×rows struct array is built as ONE parsed SQL expression
    (~300 py4j round trips → 1; see ``_shingle_hashes_sql``).
    """
    _check_family(None, family)
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}) — "
            "otherwise trailing signature components are silently dropped "
            "and the tuned (bands, rows) s-curve is not the one that runs"
        )
    if family == "arrow":
        sig = minhash_signatures_arrow(
            df, id_col, text_col, shingle_size, num_hashes
        )
    else:
        sig = _expr_signatures(
            df, id_col, text_col, shingle_size, num_hashes,
            family == "portable", assume_fanned=assume_fanned,
        )
    rows = num_hashes // bands

    def bucket(b: int) -> str:
        elems = ", ".join(
            f"element_at(_sig, {b * rows + r + 1})" for r in range(rows)
        )
        joined = f"concat_ws(',', {elems})"
        return joined if family == "portable" else f"xxhash64({joined})"

    structs = ", ".join(
        f"named_struct('band', {b}, 'bucket', {bucket(b)})"
        for b in range(bands)
    )
    return sig.selectExpr(
        f"`{id_col}`", f"explode(IF(_sig IS NULL, NULL, array({structs}))) AS _band"
    ).selectExpr(f"`{id_col}`", "_band.band", "_band.bucket")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    family: str = "xxhash64",
) -> DataFrame:
    """E2 — near-duplicate pairs via MinHash + LSH banding.

    shingle → signature → split into ``bands`` bands → band-hash →
    self-equi-join on (band, hash) → exact Jaccard verify ≥ threshold.
    The only shuffle is the band-bucket join; candidate count scales with
    collision rate, not n². Returns (id_a, id_b, jaccard) with id_a < id_b.
    ``family`` is one of ``NEARDUP_FAMILIES`` (see ``_family_bands``).

    The candidate-pair intermediate is ``transient_persist``-ed
    (metadata-only at plan build — a lazy lineage cut would EXECUTE the
    candidate stages during plan construction under AQE, round-9
    profile): its blocks materialize once inside the consuming action
    and unpersist when the RETURNED frame is garbage-collected
    (``tie_lifetime``) — no caller-owned ``unpersist`` obligation, but
    a caller that wraps the result (select/orderBy) before the action
    must move the tie with ``tuning.carry_lifetime`` or the cache drops
    at wrapper-build time.
    """
    from dataengineer_spark.tuning import fan_out

    # fanned ONCE for both compute-bound consumers: the signature stage
    # below AND the candidate verify re-shingling further down (which
    # otherwise keeps the scan's partitioning through the broadcast
    # semi-join and serializes on a single-row-group local input)
    idq = f"`{id_col}`"
    base = fan_out(df.selectExpr(idq, f"`{text_col}` AS _t"))
    banded = _family_bands(base, id_col, "_t", shingle_size, num_hashes,
                           bands, family, assume_fanned=True)

    # referenced by BOTH self-join sides, whose differing id aliases
    # defeat exchange reuse (the canonical plans differ) — without the
    # persist the whole signature/banding pipeline executes twice per
    # action (round-12 decomposition: the candidate stage cost ~2× the
    # banded stage for 256 output pairs).  (id, band, bucket) rows only —
    # 24 bytes/row at any corpus size; freed when the returned frame is
    # GC'd (tie_lifetime below), same contract as the candidate persist.
    banded = transient_persist(banded)

    left = banded.selectExpr(f"{idq} AS id_a", "band", "bucket")
    right = banded.selectExpr(f"{idq} AS id_b", "band", "bucket")
    cand = (
        left.join(right, on=["band", "bucket"])
        .where("id_a < id_b")
        .selectExpr("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # candidate pairs are referenced twice below (verify probe +
    # semi-join filter); the transient persist runs the signature/
    # banding pipeline exactly once at any corpus size, stays
    # metadata-only at plan build (a lazy lineage cut would EXECUTE the
    # candidate stages during plan construction under AQE — round-9
    # profile), and unpersists when the returned frame is GC'd
    cand = transient_persist(cand)

    # verify only the (collision-rate sized) candidate set: semi-join the
    # corpus down to candidate docs FIRST, then shingle just those — at a
    # sane collision rate this re-shingles a tiny fraction of the corpus
    # instead of shuffling every doc's shingle array ×bands
    cand_ids = cand.selectExpr(
        f"explode(array(id_a, id_b)) AS {idq}"
    ).dropDuplicates()
    sh = base.join(F.broadcast(cand_ids), id_col, "left_semi").selectExpr(
        idq, f"{_hashed_shingles_sql('`_t`', shingle_size)} AS _sh"
    )
    pairs = cand.join(sh.selectExpr(f"{idq} AS id_a", "_sh AS _sh_a"), "id_a").join(
        sh.selectExpr(f"{idq} AS id_b", "_sh AS _sh_b"), "id_b"
    )
    out = pairs.selectExpr(
        "id_a", "id_b", f"{_jaccard_sql('_sh_a', '_sh_b')} AS jaccard"
    ).where(f"jaccard >= {sql_literal(threshold)}")
    return tie_lifetime(tie_lifetime(out, cand), banded)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    bucket_col: Column | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs.

    Pairs are generated inside buckets (default: identical word-count
    bucket ± handled by caller supplying ``bucket_col``) so the self-join is
    an equi-join, not a cross product. For guaranteed-complete pairing on
    small inputs pass ``bucket_col=F.lit(1)`` explicitly.
    """
    pairs = _bucketed_gram_pairs(df, id_col, text_col, n, bucket_col)
    jac = (
        F.size(F.array_intersect("_ga", "_gb")) / F.size(F.array_union("_ga", "_gb"))
    ).alias("jaccard")
    return (
        pairs.select("id_a", "id_b", jac)
        .where(F.col("jaccard") >= threshold)
    )


def _bucketed_gram_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    bucket_col: Column | None,
    skip_blank: bool = False,
) -> DataFrame:
    """Shared candidate-pair scaffold for the set-similarity metrics:

    shingle once, self-equi-join on the caller's blocking column,
    ``id_a < id_b`` — ONE definition of the join shape so the Jaccard
    and containment generators cannot drift apart. ``skip_blank=True``
    drops blank/NULL-text rows up front (their shingle set is the
    degenerate ``['']``, which would pair every blank doc with every
    other at similarity 1.0).
    """
    from dataengineer_spark.operators.textops import trim_ws

    bucket = bucket_col if bucket_col is not None else F.lit(1)
    src = df
    if skip_blank:
        src = df.where(
            F.length(trim_ws(F.coalesce(F.col(text_col), F.lit("")))) > 0
        )
    base = src.select(
        F.col(id_col), word_shingles(text_col, n).alias("_g"), bucket.alias("_bk")
    )
    a = base.select(F.col(id_col).alias("id_a"), F.col("_g").alias("_ga"), "_bk")
    b = base.select(F.col(id_col).alias("id_b"), F.col("_g").alias("_gb"), "_bk")
    return a.join(b, on="_bk").where(F.col("id_a") < F.col("id_b"))


# -- SimHash ----------------------------------------------------------------


def simhash64(text: str, n_bits: int = 64, portable: bool = False) -> Column:
    """64-bit SimHash of the word set of column ``text``, as bigint.

    Per token hash h, bit j contributes +1 if set else −1; the sign of each
    bit-sum forms the fingerprint. SINGLE pass over the token-hash array:
    one ``aggregate`` folds a 64-wide bit-sum vector (``zip_with`` +
    ``bit_get``), then a second fold over the 64 counters packs the sign
    bits into the int64 — 2.2× faster than one aggregate pass per bit,
    still all JVM-side, no UDF. Near-dups share most bits; callers bucket
    on a bit-prefix and verify by Hamming distance.  Built as one parsed
    SQL expression (round-11: Column-API construction cost ~0.36 s of
    py4j build time per call for the portable family).

    ``portable=True`` derives bit j from the affine family
    ``((a_j·h + b_j) mod p) mod 2`` over the polynomial word hash instead
    of ``bit_get(xxhash64(w), j)`` — a valid SimHash bit family that a
    SQL oracle can replicate exactly (the poly hash's ~20 bits of range
    are too few to index directly).
    """
    words = f"split(regexp_replace(`{text}`, '^\\\\s+|\\\\s+$', ''), '\\\\s+')"
    if portable:
        params = _affine_params(n_bits, seed=7)
        a_arr = sql_literal([a for a, _ in params])
        b_arr = sql_literal([b for _, b in params])
        hashes = f"transform({words}, w -> {_poly_hash_sql('w')})"
        bits_of = (
            f"transform(sequence(0, {n_bits - 1}), j -> "
            f"CAST((pmod(element_at({a_arr}, j + 1) * h "
            f"+ element_at({b_arr}, j + 1), {_MERSENNE}) "
            "% 2 * 2 - 1) AS INT))"
        )
    else:
        hashes = f"transform({words}, w -> xxhash64(w))"
        bits_of = (
            f"transform(sequence(0, {n_bits - 1}), "
            "j -> bit_get(h, j) * 2 - 1)"
        )
    counts = (
        f"aggregate({hashes}, array_repeat(0, {n_bits}), "
        f"(acc, h) -> zip_with(acc, {bits_of}, (a, b) -> a + b))"
    )
    # pack bits 62..0 by Horner's rule (acc stays < 2^63, ANSI-safe) …
    low = (
        f"aggregate(reverse(slice({counts}, 1, {n_bits - 1})), "
        "CAST(0 AS BIGINT), "
        "(acc, cnt) -> acc * 2 + CASE WHEN cnt > 0 THEN 1 ELSE 0 END)"
    )
    # … and add bit 63 as its two's-complement value (2^63 overflows)
    return F.expr(
        f"CASE WHEN element_at({counts}, {n_bits}) > 0 "
        f"THEN {low} + (-9223372036854775807L - 1L) ELSE {low} END"
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    prefix_bits: int = 16,
    portable: bool = False,
) -> DataFrame:
    """SimHash near-dup: bucket on the top ``prefix_bits`` of the

    fingerprint, verify Hamming ≤ ``max_hamming`` inside buckets. (A full
    multi-probe scheme rotates the prefix; one prefix is the common fast
    path and misses only pairs differing inside the prefix.)

    The fingerprint projection is lineage-cut lazily (a plan-build
    launches no job): its blocks materialize once at first action and
    are freed by the ContextCleaner when the frame is garbage-collected
    — no caller-owned ``unpersist`` obligation (VERDICT r7 item 4).
    """
    with_fp = lineage_cut(
        df.select(
            F.col(id_col), simhash64(text_col, portable=portable).alias("_fp")
        )
        # referenced by both self-join sides: cutting this 24-byte/row
        # projection computes the 64-bit-sum fingerprint pass once, not
        # twice — compact at any corpus size (id + fp + bucket only)
        .withColumn("_bk", F.shiftrightunsigned(F.col("_fp"), 64 - prefix_bits)),
        eager=False,
        serialized=True,  # corpus-row-sized
    )
    a = with_fp.select(F.col(id_col).alias("id_a"), F.col("_fp").alias("_fa"), "_bk")
    b = with_fp.select(F.col(id_col).alias("id_b"), F.col("_fp").alias("_fb"), "_bk")
    return (
        a.join(b, on="_bk")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", hamming64(F.col("_fa"), F.col("_fb")).alias("hamming")
        )
        .where(F.col("hamming") <= max_hamming)
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    driver_edge_limit: int = 500_000,
) -> DataFrame:
    """Collapse near-dup PAIRS into clusters: returns ``(node,
    cluster_id)`` with ``cluster_id`` = the minimum id reachable through
    the pair graph. The missing step between pair generation (minhash /
    simhash / jaccard above) and actually dropping rows — near-dups chain
    (A~B, B~C but not A~C), so survivors must be picked per component, not
    per pair.

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels — rounds needed = graph
    diameter, and near-dup components are shallow (pairs share content, so
    components are dense and small; ``max_iter`` guards pathological
    chains). Each round is one hash join + one partial-aggregated groupBy
    on the node key, `localCheckpoint`-ed to truncate lineage — the
    standard scalable CC loop. Convergence is detected with a
    control-plane count; a graph still changing at ``max_iter`` raises
    instead of returning silently-unconverged labels (the union-find
    fast path always runs to full convergence, so the two paths would
    otherwise diverge exactly when edge count crosses the guard —
    ADVICE r8; raise the ``max_iter`` for diameter->25 chain graphs).

    Small graphs skip the loop: near-dup pair sets are collision-rate
    sized (a sliver of the corpus even at 100 TB), so when the
    deduplicated directed edge count is within ``driver_edge_limit``
    ROWS (memory scales with id width — ~8 MB for two int64 ids at the
    default, a few× that for long string doc ids) the components are
    collapsed with one driver-side union-find instead of diameter×
    join/agg rounds — the same size-guarded control-plane pattern as
    the PageRank rank-vector broadcast (graph.py).  Labels are
    identical (min reachable id, run to full convergence, which is also
    what the recursive-CTE oracle computes); graphs past the guard take
    the distributed loop unchanged.  The count that arms the guard doubles as the edge-cache
    materialization both paths need.
    """
    spark = pairs.sparkSession
    # NULL endpoints are dropped up front: a pair with a NULL id carries
    # no identity to merge, and the two execution paths would otherwise
    # diverge on them (the min-label join can't propagate THROUGH a NULL
    # node — ``NULL == NULL`` is false — while a union-find would; with
    # the filter both paths see the same graph)
    #
    # the symmetric union references the pair plan TWICE — cutting the
    # (collision-rate-sized) pair frame first runs the upstream
    # candidate/verify pipeline once, not per union branch
    e = lineage_cut(
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull()),
        eager=False,
    )
    edges = transient_persist(e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).dropDuplicates())
    n_edges = edges.count()
    if n_edges <= driver_edge_limit:
        try:
            parent: dict = {}

            def find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:  # path compression
                    parent[x], x = r, parent[x]
                return r

            for row in edges.collect():
                a, b = row[0], row[1]
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[ra] = rb
            comp_min: dict = {}
            for node in parent:
                r = find(node)
                m = comp_min.get(r)
                if m is None or node < m:
                    comp_min[r] = node
            from pyspark.sql.types import StructField, StructType

            node_t = edges.schema["a"].dataType
            out_schema = StructType([
                StructField("node", node_t, False),
                StructField("cluster_id", node_t, False),
            ])
            from dataengineer_spark.tuning import control_frame

            return control_frame(
                spark, [(n, comp_min[find(n)]) for n in parent], out_schema
            )
        finally:
            edges.unpersist()
    labels = lineage_cut(
        edges.select("a").dropDuplicates()
        .select(F.col("a").alias("node"), F.col("a").alias("label"))
    )
    try:
        changed = 1
        for i in range(max_iter):
            nbr = edges.join(
                labels, edges.b == labels.node
            ).select(F.col("a").alias("node"), F.col("label"))
            new_labels = lineage_cut(
                labels.union(nbr).groupBy("node").agg(F.min("label").alias("label"))
            )
            if i == 0:
                # round 0 always changes something on a non-empty graph
                # (every edge endpoint sees a neighbor label for the first
                # time) — skip its convergence job
                labels = new_labels
                continue
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .where(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        if changed != 0:
            # the loop exhausted its budget with the LAST measured round
            # still changing — but that round may itself have been the
            # final propagation (detection needs rounds+1), so verify
            # with one more propagate-and-compare before declaring
            # failure (review r9: raising here unconditionally failed
            # graphs that converged exactly at max_iter, and the
            # docstring invites setting max_iter to the known diameter)
            nbr = edges.join(
                labels, edges.b == labels.node
            ).select(F.col("a").alias("node"), F.col("label"))
            final = labels.union(nbr).groupBy("node").agg(
                F.min("label").alias("label")
            )
            still = (
                final.alias("n")
                .join(labels.alias("o"), "node")
                .where(F.col("n.label") != F.col("o.label"))
                .count()
            )
            if still != 0:
                # silent non-convergence would return labels that depend
                # on WHICH side of driver_edge_limit the edge count
                # landed (the union-find path always fully converges) —
                # fail loudly
                raise ValueError(
                    f"connected_components did not converge in "
                    f"{max_iter} rounds ({still} labels still "
                    f"changing): the pair graph has diameter > "
                    f"max_iter. Raise max_iter — rounds needed equal "
                    f"the graph diameter."
                )
        return labels.select("node", F.col("label").alias("cluster_id"))
    finally:
        edges.unpersist()


def cluster_dedup(
    df: DataFrame, pairs: DataFrame, id_col: str,
    src: str = "id_a", dst: str = "id_b",
) -> DataFrame:
    """Near-dup dedup end-to-end: keep one survivor (the min id) per
    connected component of ``pairs``; rows in no pair survive untouched.
    The anti join ships only the loser id set (component sizes − 1)."""
    cc = connected_components(pairs, src, dst)
    losers = cc.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# -- duplicate spans (substring-level dedup) --------------------------------


def positioned_shingles(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = True,
) -> DataFrame:
    """(id, p, sh) rows: the word ``k``-shingle starting at 1-based token

    position ``p`` of every document. ``hashed=True`` (the scale default)
    keys shingles by a 64-bit hash so the downstream shuffle carries 8
    bytes instead of ~k words; ``hashed=False`` keeps the text (the
    oracle-portable form — pytest pins both produce identical spans).

    The hashed path hashes each WORD once (n ``xxhash64`` calls), then
    keys every shingle by ``xxhash64`` over its k word-hashes — eight
    long lookups per position instead of ``concat_ws`` materializing a
    k-word string per position, measured 1.45× faster end-to-end on
    ``dup_spans`` (the shingle transform is an interpreted HOF, so its
    per-element allocation cost IS the map-stage runtime). Key space is
    the same 64 bits; span outputs are hash-family-invariant.
    """
    from dataengineer_spark.operators.textops import trim_ws

    words = F.split(trim_ws(F.lower(F.col(text_col))), r"\s+")
    if not hashed:
        n = F.size(words)
        pos_sh = F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - F.lit(k - 1)),
                lambda i: F.struct(
                    i.cast("bigint").alias("p"),
                    F.concat_ws(" ", F.slice(words, i, k)).alias("sh"),
                ),
            ),
        ).otherwise(F.lit(None).cast("array<struct<p:bigint,sh:string>>"))
        return df.select(
            F.col(id_col).alias("id"), F.explode(pos_sh).alias("ps")
        ).select("id", F.col("ps.p").alias("p"), F.col("ps.sh").alias("sh"))

    # word-hash array materialized in its own projection: it is referenced
    # k times per position, so CollapseProject keeps it un-inlined and each
    # word is hashed exactly once
    base = df.select(
        F.col(id_col).alias("id"),
        F.transform(words, lambda w: F.xxhash64(w)).alias("_wh"),
    )
    wh = F.col("_wh")
    n = F.size(wh)
    pos_sh = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: F.struct(
                i.cast("bigint").alias("p"),
                F.xxhash64(
                    *[F.element_at(wh, i + F.lit(j)) for j in range(k)]
                ).alias("sh"),
            ),
        ),
    ).otherwise(F.lit(None).cast("array<struct<p:bigint,sh:bigint>>"))
    return base.select("id", F.explode(pos_sh).alias("ps")).select(
        "id", F.col("ps.p").alias("p"), F.col("ps.sh").alias("sh")
    )


def dup_spans(
    df: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = True,
) -> DataFrame:
    """Substring-level duplicate detection (the span analogue of exact-

    substring dedup, Lee et al. 2022 "Deduplicating Training Data Makes
    Language Models Better", at word-``k``-gram granularity): find every
    maximal token span whose ``k``-shingles all occur in >= ``min_docs``
    distinct documents. Returns one row per maximal span:
    ``(doc_id, span_start, span_end, n_tokens)``, token positions
    1-based inclusive. Trimming these spans (instead of dropping whole
    documents) is the substring-dedup recipe for boilerplate.

    Scale shape: shingling is map-only; duplicated-shingle detection is
    one shuffle on the shingle key (8-byte hash by default — the text
    never shuffles); the join back is an equi-join on the same key (AQE
    broadcasts it when the duplicated set is small); span merging is a
    per-document window over hit positions only. No all-pairs stage at
    any size. The reference has no substring-level operator; this extends
    its cleaning family (SURVEY.md §2.9 E2).
    """
    from pyspark.sql import Window as W

    sh = positioned_shingles(df, k, text_col, id_col, hashed)
    dup_keys = (
        sh.groupBy("sh")
        .agg(F.count_distinct("id").alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("sh")
    )
    hits = sh.join(dup_keys, "sh").select("id", "p")
    w = W.partitionBy("id").orderBy("p")
    brk = F.when(F.col("p") - F.lag("p").over(w) > k, 1).otherwise(0)
    island = F.sum("_brk").over(w.rowsBetween(W.unboundedPreceding, 0))
    return (
        hits.withColumn("_brk", brk)
        .withColumn("_isl", island)
        .drop("_brk")
        .groupBy(F.col("id").alias("doc_id"), "_isl")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + F.lit(k - 1)).alias("span_end"),
            (F.max("p") + F.lit(k) - F.min("p")).alias("n_tokens"),
        )
        .drop("_isl")
    )


def minhash_lsh_join(
    corpus: DataFrame,
    bench: DataFrame,
    corpus_id: str = "doc_id",
    bench_id: str = "bench_id",
    corpus_text: str = "text",
    bench_text: str = "text",
    shingle_size: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    family: str = "xxhash64",
) -> DataFrame:
    """Bipartite near-dup join: corpus documents ~matching any benchmark

    document — the FUZZY decontamination complement of the exact n-gram
    audit (``preparation.ngram_overlap``): paraphrased or lightly-edited
    eval leakage that exact grams miss still collides in MinHash bands.
    Returns ``(corpus_id, bench_id, jaccard)`` for verified candidates
    with Jaccard >= ``threshold``.

    Scale shape: the benchmark side is dimension-sized next to a 100 TB
    corpus, so its band table AND its shingle sets broadcast — the
    corpus is never shuffled at all: band-probe (broadcast join), then
    shingle-verify only the candidate rows (semi-join first). Map-only
    over the corpus end to end.
    """
    from dataengineer_spark.tuning import fan_out

    # fanned ONCE for both compute-bound consumers (signatures + the
    # candidate verify re-shingling) — same policy as minhash_lsh_pairs
    base_c = fan_out(corpus.select(
        F.col(corpus_id).alias("corpus_id"), F.col(corpus_text).alias("_t")
    ))
    base_b = fan_out(bench.select(
        F.col(bench_id).alias("bench_id"), F.col(bench_text).alias("_t")
    ))
    banded_c = _family_bands(base_c, "corpus_id", "_t", shingle_size,
                             num_hashes, bands, family, assume_fanned=True)
    banded_b = _family_bands(base_b, "bench_id", "_t", shingle_size,
                             num_hashes, bands, family, assume_fanned=True)
    cand = transient_persist(
        banded_c.join(F.broadcast(banded_b), ["band", "bucket"])
        .select("corpus_id", "bench_id")
        # referenced twice below (cand_ids + final join): the transient
        # persist runs the corpus signature/banding pipeline once, not
        # twice (same policy as minhash_lsh_pairs), without executing
        # the candidate stages at plan-build time the way a lazy
        # lineage cut does under AQE (round-9 profile)
        .dropDuplicates(),
    )
    cand_ids = cand.select("corpus_id").dropDuplicates()
    sh_c = base_c.join(F.broadcast(cand_ids), "corpus_id", "left_semi").selectExpr(
        "corpus_id", f"{_hashed_shingles_sql('`_t`', shingle_size)} AS _sh_a"
    )
    sh_b = base_b.selectExpr(
        "bench_id", f"{_hashed_shingles_sql('`_t`', shingle_size)} AS _sh_b"
    )
    out = (
        cand.join(sh_c, "corpus_id")
        .join(F.broadcast(sh_b), "bench_id")
        .selectExpr(
            "corpus_id", "bench_id",
            f"round({_jaccard_sql('_sh_a', '_sh_b')}, 6) AS jaccard",
        )
        .where(f"jaccard >= {sql_literal(threshold)}")
    )
    return tie_lifetime(out, cand)


def signature_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    family: str = "xxhash64",
) -> DataFrame:
    """(id, band, bucket) MinHash-LSH index rows — the REUSABLE near-dup

    index artifact: computed once per ingested batch and appended to a
    lake table, so later batches near-dup-check against ALL history
    WITHOUT ever re-shingling it (at 100 TB the index is ~24 bytes ×
    bands per doc; re-hashing the raw corpus per batch is the thing
    that doesn't scale).  Exactly the band exchange ``minhash_lsh_pairs``
    builds internally, exposed as a persistable table.

    The bucket column is stamped with ``family`` (``_family_bands``), so
    an index is only probe-compatible with the family that built it;
    pick one per lake index and stick with it.
    """
    banded = _family_bands(
        df.select(F.col(id_col), F.col(text_col)), id_col, text_col,
        shingle_size, num_hashes, bands, family,
    )
    # stamp the hash family into the bucket column's metadata (survives
    # the parquet round trip via Spark's schema footer) so a probe with
    # the WRONG family fails loudly in _check_family instead of silently
    # matching nothing
    return banded.select(
        id_col,
        "band",
        F.col("bucket").alias("bucket", metadata={"neardup_family": family}),
    )


def incremental_neardup(
    new_batch: DataFrame,
    seen_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    min_bands: int = 1,
    family: str = "xxhash64",
) -> DataFrame:
    """E2+O6 — near-dup dedup of an incoming batch against ALL previously

    ingested content, via the stored ``signature_table`` index: a new doc
    is dropped when it shares a band bucket with any seen doc in at least
    ``min_bands`` bands (signature-only decision — history's raw text is
    never touched, the per-batch analogue of ``incremental_dedup``'s
    fingerprint anti join, at near-dup instead of exact granularity).

    Scale shape: the new batch's band rows are map-only; the probe is one
    equi-join on (band, bucket) against the index — the only shuffle, and
    it ships 24-byte rows.  ``min_bands > 1`` trades recall for precision
    by requiring repeated collisions (one hash agg on the hit pairs,
    collision-rate-sized).  Returns surviving ``new_batch`` rows; append
    their ``signature_table`` rows to the index afterwards.  A NULL-text
    doc has no band rows, so it is never dropped.
    """
    _check_family(seen_bands, family)
    new_bands = signature_table(
        new_batch, id_col, text_col, shingle_size, num_hashes, bands, family,
    )
    if min_bands <= 1:
        seen = seen_bands.select("band", "bucket").dropDuplicates()
        flagged = (
            new_bands.join(seen, ["band", "bucket"], "left_semi")
            .select(id_col)
            .dropDuplicates()
        )
    else:
        # per-PAIR band agreement: >= min_bands collisions with the SAME
        # seen doc (repeated collisions across different docs don't count).
        # The index id is the column that isn't (band, bucket) — column
        # ORDER is not part of the signature_table contract (lake
        # round-trips may reorder)
        extra = [c for c in seen_bands.columns if c not in ("band", "bucket")]
        if len(extra) != 1:
            raise ValueError(
                "incremental_neardup: seen_bands must have exactly one id "
                f"column besides (band, bucket); got {seen_bands.columns}"
            )
        seen_id = extra[0]
        hits = new_bands.join(
            seen_bands.select(
                F.col(seen_id).alias("_seen"), "band", "bucket"
            ),
            ["band", "bucket"],
        )
        flagged = (
            hits.groupBy(id_col, "_seen")
            .agg(F.countDistinct("band").alias("_nb"))
            .where(F.col("_nb") >= min_bands)
            .select(id_col)
            .dropDuplicates()
        )
    return new_batch.join(flagged, id_col, "left_anti")


def dup_weights(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """E1 variant — soft dedup: keep every row but weight it by
    1/n_copies, so duplicated content contributes one document's worth of
    training loss instead of being hard-dropped (the loss-reweighting
    alternative when deletion would skew the domain mixture; public
    method).

    Same single-shuffle shape as content_dedup: count over a window
    partitioned by the 256-bit content hash — the exchange key is 32
    bytes/row and the text never moves twice.
    """
    from pyspark.sql import Window as W

    h = F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256)
    n = F.count("*").over(W.partitionBy(h))
    return df.withColumn("n_copies", n).withColumn(
        "weight", F.round(F.lit(1.0) / F.col("n_copies"), 6)
    )


def minhash_signatures_arrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 5,
    num_hashes: int = 32,
    seed: int = 42,
) -> DataFrame:
    """(id, _sig) MinHash signatures via the Arrow/numpy dense path.

    The expression form folds a 32-wide min vector per shingle in the
    Catalyst interpreter (higher-order functions don't codegen); for
    signature-dominated workloads that interpretation cost IS the
    runtime. This path streams Arrow batches through ``mapInPandas`` and
    vectorizes everything: UTF-8 byte windows hashed with a rolling
    polynomial (base 257 mod 2^31-1) in k vectorized passes, then the
    affine family applied as one (num_hashes × n_windows) broadcast min —
    measured ~100× per-core over the interpreted fold (same precedent as
    brute_force_top_k_arrow for dense algebra).

    The hash family is byte-level, NOT the expression form's
    codepoint-level xxhash64 — a different but equally valid MinHash
    instantiation (banding recall behavior is the same; candidate sets
    differ in the tails). Downstream banding/verify are shared.  NULL
    text has no shingles, so its signature is NULL.
    """
    import numpy as np
    import pandas as pd

    params = _affine_params(num_hashes, seed)
    a_np = [a for a, _ in params]
    b_np = [b for _, b in params]
    k = shingle_size
    p = _MERSENNE

    def run(batches):
        A = np.asarray(a_np, dtype=np.int64)[:, None]
        B = np.asarray(b_np, dtype=np.int64)[:, None]

        def sig(t: str):
            b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
            b = b.astype(np.int64)
            if len(b) <= k:
                h = np.zeros(1, dtype=np.int64)
                for x in b:
                    h = (h * 257 + x) % p
            else:
                n = len(b) - k + 1
                h = np.zeros(n, dtype=np.int64)
                for i in range(k):
                    h = (h * 257 + b[i : n + i]) % p
                h = np.unique(h)
            return ((A * h[None, :] + B) % p).min(axis=1)

        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "_sig": [
                        None if t is None else sig(t).tolist()
                        for t in pdf[text_col]
                    ],
                }
            )

    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    out_schema = StructType(
        [
            # preserve the caller's id type (string doc ids, int32, ...)
            # instead of hardcoding bigint — mirrors the expression path
            StructField(id_col, df.schema[id_col].dataType),
            StructField("_sig", ArrayType(LongType())),
        ]
    )
    return df.mapInPandas(run, schema=out_schema)


def _setsim_sorted_arrays(
    df: DataFrame, text_col: str, id_col: str, shingle_size: int | None
) -> DataFrame:
    """(_id, _toks, _n) rarest-first sorted token arrays — the shared
    tokenize/frequency/sort stage of the PPJoin pipeline, split out with
    ``_setsim_candidates`` so the scale probes measure through the exact
    code the join runs.

    Hash elements to int64 AT TOKENIZE TIME: every downstream stage —
    global frequency, the (freq, element) sort, the prefix equi-join,
    and above all the candidate array_intersect verify — compares longs
    instead of shingle strings (the verify hashes each element per pair;
    on templated corpora with millions of candidates the string form was
    ~4× this one).  The RESULT is identical: the prefix filter is
    lossless under ANY consistent global ordering, and jaccard is
    computed from set SIZES, which hashing preserves (a 64-bit collision
    inside one comparison is ~2⁻⁶⁴ — the same exactness budget the
    xxhash64 LSH family already accepts).
    """
    from dataengineer_spark.tuning import fan_out

    if shingle_size is not None:
        elems = char_shingles(F.col(text_col), shingle_size)
    else:
        elems = F.array_distinct(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        )
    # tokenize/shingle is the compute-bound map stage — fan a
    # single-row-group local input out to all cores (no-op at
    # production split counts, same policy as _expr_signatures)
    base = fan_out(df).select(
        F.col(id_col).alias("_id"), elems.alias("_ws")
    ).select(
        "_id", F.filter("_ws", lambda w: F.length(w) > 0).alias("_ws")
    )
    toks = base.select("_id", F.explode("_ws").alias("_s")).select(
        "_id", F.xxhash64("_s").alias("_w")
    )
    # global frequency as a window count over the token key (round-12):
    # the old groupBy + self-join re-shuffled the token rows into the
    # join — the window computes the identical count on ONE exchange of
    # the exploded tokens (same values, same candidate set; A/B'd
    # −1.9 s arr build at sf0.1)
    from pyspark.sql import Window as W

    toks = toks.withColumn("_c", F.count("*").over(W.partitionBy("_w")))
    return (
        toks.groupBy("_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_c"), F.col("_w")))
            ).alias("_sw")
        )
        .select(
            "_id",
            F.transform("_sw", lambda x: x["_w"]).alias("_toks"),
            F.size("_sw").alias("_n"),
        )
    )


def _setsim_candidates(arr: DataFrame, t: float, eps: float) -> DataFrame:
    """PPJoin candidate stage over ``(_id, _toks, _n)`` rarest-first
    sorted token arrays: prefix explode bounded by (1−t)·|set|+1, the
    prefix equi-join, and the size + positional filters — everything
    BEFORE the exact array verify.  Split out so the scale probes can
    measure the filter's real candidate counts through the exact code
    the join runs (5a920ce:tools/vocab_probe_r9.py), not a reimplementation.

    PPJoin candidate filters, all cheap integer/float predicates, all
    applied BEFORE the (much heavier) array-verify join:

    - size filter: Jaccard >= t forces min(|x|,|y|) >= t·max(|x|,|y|)
      (per collision row, inside the equi-join);
    - CUMULATIVE positional filter (round-12; Xiao et al.'s exact
      form): both prefixes are slices of arrays sorted by ONE global
      (freq, token) order, so every shared token smaller than the last
      collision's token lies within BOTH prefixes and is itself a
      collision.  Grouping the collisions per pair — the same exchange
      the old per-pair ``distinct`` already paid — therefore yields the
      EXACT shared count ``_c`` up to the last collision (at positions
      ``_pa``, ``_pb``), and total overlap ≤ _c + min(na−_pa, nb−_pb),
      which must reach alpha = ceil(t/(1+t)·(na+nb)).  This bound is
      tighter than any single collision's (the old ANY-collision form
      admitted 4.6M pairs at sf0.1; this admits 255k — and it remains
      lossless, so the verified result set is identical).

    Output: one row per surviving pair ``(_ia, _ib, _c, _pa, _pb)`` —
    the collision count and last-collision positions feed the
    suffix-only verify in :func:`setsim_join`.
    """
    prefix_len = F.col("_n") - F.ceil(F.lit(t) * F.col("_n") - eps) + 1
    prefix = arr.select(
        "_id",
        "_n",
        F.posexplode(F.slice("_toks", 1, prefix_len)).alias("_p", "_w"),
    ).select("_id", "_n", (F.col("_p") + 1).alias("_p"), "_w")
    alpha = F.ceil(
        F.lit(t / (1.0 + t)) * (F.col("_na") + F.col("_nb")) - eps
    )
    return (
        prefix.alias("a")
        .join(prefix.alias("b"), "_w")
        .where(
            (F.col("a._id") < F.col("b._id"))
            & (F.col("a._n") >= t * F.col("b._n") - eps)
            & (F.col("b._n") >= t * F.col("a._n") - eps)
        )
        .select(
            F.col("a._id").alias("_ia"),
            F.col("b._id").alias("_ib"),
            F.col("a._n").alias("_na"),
            F.col("b._n").alias("_nb"),
            F.col("a._p").alias("_pa"),
            F.col("b._p").alias("_pb"),
        )
        .groupBy("_ia", "_ib", "_na", "_nb")
        .agg(
            F.count("*").alias("_c"),
            F.max("_pa").alias("_pa"),
            F.max("_pb").alias("_pb"),
        )
        .where(
            F.col("_c")
            + F.least(
                F.col("_na") - F.col("_pa"), F.col("_nb") - F.col("_pb")
            )
            >= alpha
        )
        .select("_ia", "_ib", "_c", "_pa", "_pb")
    )


def setsim_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    shingle_size: int | None = None,
) -> DataFrame:
    """EXACT Jaccard set-similarity self-join via prefix filtering — the

    PPJoin family (Xiao et al., public method), the deterministic
    complement to the MinHash estimate: two documents with word-set
    Jaccard ≥ t MUST share at least one token among each one's
    ``|set| − ceil(t·|set|) + 1`` globally-rarest tokens, so candidate
    pairs come from an equi-join on those prefix tokens only.  Ordering
    tokens rarest-first makes prefixes collide as little as possible —
    the filter does the work of the quadratic loop.

    Shape: one token explode + global frequency count, a per-doc
    array_sort by (freq, token) (deterministic tie-break, NO
    collect_list order dependence), a prefix explode bounded by
    (1−t)·|set|+1 per doc, the candidate equi-join, and one verify join
    computing exact |∩|/|∪| from the full sorted token arrays.  All
    counts integral → the rounded Jaccard is engine-exact.

    Set elements are whitespace words by default; pass ``shingle_size``
    to use character n-shingles instead (``char_shingles`` — the same
    elements the MinHash family estimates over, far more discriminative
    on templated text whose word VOCABULARY overlaps even when content
    differs).

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ t.
    """
    t = float(threshold)
    # float-boundary slack: the prefix length, size filter, and
    # positional minoverlap all derive from t·n products whose IEEE
    # rounding can land a hair ABOVE the exact rational (e.g.
    # 0.4/1.4*7 = 2.0000000000000004 → ceil 3, wrongly pruning a pair
    # at exactly the threshold).  Relaxing each bound by eps only admits
    # extra candidates — the final verify is exact, so correctness is
    # untouched and the filter stays lossless.
    eps = 1e-9
    arr = _setsim_sorted_arrays(df, text_col, id_col, shingle_size)
    # consumed three times (prefix explode + both verify sides); the
    # transient persist computes it once per action — one row per doc
    # but carrying the full sorted token array, so serialized storage
    # (corpus-sized); metadata-only at plan build (a lazy lineage cut
    # executes upstream stages during plan construction under AQE),
    # blocks free when the returned frame is GC'd (tie_lifetime below)
    arr = transient_persist(arr)
    cand = _setsim_candidates(arr, t, eps)
    x = arr.select(
        F.col("_id").alias("_ia"), F.col("_toks").alias("_ta"), F.col("_n").alias("_na")
    )
    y = arr.select(
        F.col("_id").alias("_ib"), F.col("_toks").alias("_tb"), F.col("_n").alias("_nb")
    )
    # suffix-only verify (round-12): the candidate stage already knows
    # the pair shares EXACTLY ``_c`` tokens up to the last prefix
    # collision (see _setsim_candidates — all shared tokens below it
    # collide), so only the post-collision suffixes need intersecting:
    # |∩| = _c + |suffix_a ∩ suffix_b|.  Same integer, computed over
    # shorter arrays.
    inter = F.col("_c") + F.size(
        F.array_intersect(
            F.slice("_ta", F.col("_pa") + 1, F.col("_na") - F.col("_pa")),
            F.slice("_tb", F.col("_pb") + 1, F.col("_nb") - F.col("_pb")),
        )
    )
    v = (
        cand.join(x, "_ia")
        .join(y, "_ib")
        .select(
            "_ia",
            "_ib",
            inter.alias("_inter"),
            "_na",
            "_nb",
        )
    )
    jac = F.col("_inter").cast("double") / (
        F.col("_na") + F.col("_nb") - F.col("_inter")
    )
    out = (
        v.where(jac >= t)
        .select(
            F.col("_ia").alias("id_a"),
            F.col("_ib").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
    )
    return tie_lifetime(out, arr)


def neardup_recall(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 5,
    num_hashes: int = 32,
    bands: int = 4,
    threshold: float = 0.5,
    family: str = "xxhash64",
    allow_quadratic: bool = False,
) -> DataFrame:
    """Recall audit of the MinHash-LSH banding against exact ground

    truth — the near-dup analogue of similarity.ann_recall, and the
    number the (bands, rows) s-curve is tuned by: ground truth is every
    pair with exact shingle-Jaccard >= threshold (still guarded as a
    quadratic — a shingle shared by every doc pairs them all — so this
    audit runs on a bounded sample, the same way ann_recall samples its
    probe set, never on the full corpus), and the index under test
    is :func:`minhash_lsh_pairs` with identical shingling and verify
    rules, so found ⊆ truth by construction and recall is an exact
    int/int division.

    Output: one row (n_true, n_found, recall); recall NULL when the
    sample contains no true pairs.
    """
    from dataengineer_spark.operators.similarity import _guard_quadratic

    _guard_quadratic(df, "corpus sample", "minhash_lsh_pairs", allow_quadratic)
    if threshold <= 0:
        raise ValueError("neardup_recall: threshold must be > 0")
    # ground truth as an inverted index, the DuckDB oracle's shape: each
    # doc's distinct shingles, self-joined on the shingle and counted per
    # pair, give |A∩B|; char_shingles is distinct, so |A∪B| =
    # |A|+|B|−|A∩B| is exact over integers and the Jaccard is one
    # int/int division, the same double as the oracle's.  A pair sharing
    # no shingle has Jaccard 0, below any positive threshold, so it never
    # needs a row.  NULL text has no shingles (as in _family_bands):
    # explode emits nothing for it.
    sh = df.select(
        F.col(id_col).alias("_id"),
        F.when(
            F.col(text_col).isNotNull(),
            char_shingles(F.col(text_col), shingle_size),
        ).alias("_sh"),
    ).select(
        "_id", F.array_size("_sh").alias("_n"), F.explode("_sh").alias("_s")
    )
    a = sh.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"), "_s")
    b = sh.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"), "_s")
    inter = F.col("_i")
    truth = (
        a.join(b, "_s")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "_na", "_nb")
        .agg(F.count("*").alias("_i"))
        .where(inter / (F.col("_na") + F.col("_nb") - inter) >= threshold)
        .select("id_a", "id_b")
    )
    from dataengineer_spark.tuning import carry_lifetime

    raw = minhash_lsh_pairs(
        df, id_col, text_col, shingle_size=shingle_size,
        num_hashes=num_hashes, bands=bands, threshold=threshold,
        family=family,
    )
    found = raw.select("id_a", "id_b", F.lit(1).alias("_f"))
    stats = truth.join(found, ["id_a", "id_b"], "left").agg(
        F.count("*").alias("n_true"),
        # coalesce the SUM too: zero true pairs must report n_found 0,
        # not a NULL a dashboard would render as missing data
        F.coalesce(
            F.sum(F.coalesce(F.col("_f"), F.lit(0))), F.lit(0).cast("long")
        ).alias("n_found"),
    )
    out = stats.select(
        "n_true",
        "n_found",
        F.when(
            F.col("n_true") > 0, F.col("n_found") / F.col("n_true")
        ).alias("recall"),
    )
    # the audit frame outlives `raw` — carry the candidate-cache tie
    return carry_lifetime(out, raw)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    bucket_col: Column | None = None,
) -> DataFrame:
    """Overlap-coefficient near-dup pairs: |A∩B| / min(|A|, |B|) over

    word n-gram sets — the ASYMMETRY-catching companion to
    :func:`ngram_jaccard_pairs`: a short document quoted whole inside a
    long one has low Jaccard (the union is huge) but containment ~1,
    which is exactly the subset-duplication a quote/inclusion scrub
    needs to find. Same bucketed self-join shape as the Jaccard form
    (equi-join on the caller's blocking column, never a cross product);
    set sizes and intersections are exact ints, the coefficient one
    int/int division.

    Output: (id_a, id_b, containment) with id_a < id_b, coefficient >=
    threshold. Blank/NULL-text documents are excluded up front — their
    degenerate ``['']`` shingle set would otherwise pair every blank doc
    with every other at containment 1.0 (shared scaffold,
    :func:`_bucketed_gram_pairs`).
    """
    pairs = _bucketed_gram_pairs(
        df, id_col, text_col, n, bucket_col, skip_blank=True
    )
    smaller = F.least(F.size("_ga"), F.size("_gb"))
    cont = F.when(
        smaller > 0, F.size(F.array_intersect("_ga", "_gb")) / smaller
    ).alias("containment")
    return (
        pairs.select("id_a", "id_b", cont)
        .where(F.col("containment") >= threshold)
    )
