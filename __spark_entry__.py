"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship DX-Group pipeline shape (SURVEY.md §3.1)
over sf0.001. ``queries()`` registers one callable per implemented operator
from SURVEY.md §2; ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL for
every query whose engine hashes DuckDB can replay — the portable poly fold
(``_duck_poly``) and Spark's xxhash64 (``_duck_xxhash64``) included.  The
few rows-only queries form the tail of ``QUERY_ORDER``; README lists each
one's reason.

Oracle-parity notes:
- all regex patterns live in the engine modules and use the Java/RE2-common
  subset; oracle SQL is assembled from the same constants.
- double aggregates are rounded identically on both sides (half-away-from-
  zero in both engines); ns timestamps are floored to µs on both sides.
- pipeline-shape queries use the arithmetic stand-in classifier
  (ml.inference.arith_standin_classifier) so every stage is SQL-expressible.
"""

from __future__ import annotations

import os
import tempfile
import time
import uuid
from collections.abc import Callable

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints at runtime
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_spark.testdata import load_table
from dataengineer_spark.tuning import control_frame, fan_out
from dataengineer_spark.functions import cleaning
from dataengineer_spark.functions.cleaning import clean_msg
from dataengineer_spark.functions.labels import split_label
from dataengineer_spark.functions.sections import sectionize
from dataengineer_spark.functions.dates import format_date
from dataengineer_spark.functions.truncate import truncate_text_chars
from dataengineer_spark.ml.inference import STANDIN_MULT, arith_standin_classifier
from dataengineer_spark.operators import (
    aggregates as agg_ops,
    dedup as dedup_ops,
    events as event_ops,
    joins as join_ops,
    projection as proj_ops,
    similarity as sim_ops,
    textops,
    windows as win_ops,
)
from dataengineer_spark.operators.multimodal import extract_features
from dataengineer_spark.operators.preparation import _POLY_MOD
from dataengineer_spark.plans.api_variant import publish_stage
from dataengineer_spark.plans.dx_group import clean_stage, predict_stage, prep_stage
from dataengineer_spark.plans.prostate import run_prostate
from dataengineer_spark.schemas import PROSTATE_PRED_FIELDS
from dataengineer_spark.sources.files import read_csv, write_csv
from dataengineer_spark.sources.records import from_records
from dataengineer_spark.sources.rest import RestSink, RestSource

# ---------------------------------------------------------------------------
# shared constants / SQL fragments (one definition, both engines)
# ---------------------------------------------------------------------------

#: queries whose callables run side effects (streaming awaitTermination,
#: temp-dir writes, driver collects) rather than just building a plan —
#: plan-inspection tooling (tests/test_plans.py, tools/plan_report.py)
#: skips these
EFFECTFUL_QUERIES = {
    "q_e11_stream_tumbling",
    "q_e11_stateful",
    "q_e11_stream_lake",
    "q_e11_stream_join",
    "q_s7_bucketed_join",
    "q_e5_percentile_dist",  # two-pass: collects control-plane counts
    "q_e11_stream_dedup",
    "q_e11_stream_session",
    "q_e11_stream_anomaly",
    "q_k5_merge_upsert",  # lake writes + read-back
    "q_k7_incremental_agg",  # staged aggregate-state writes + read-back
    "q_e2_cluster_dedup",  # CC loop executes under localCheckpoint at build
    "q_graph_pagerank",  # power-iteration loop under localCheckpoint at build
    "q_graph_pagerank3",  # same loop, 3 iterations
    "q_graph_pagerank_dangling",  # same loop + per-round leak scalar
    "q_e2_neardup_dedup",  # same CC loop on MinHash pairs
    "q_o6_batch_lifecycle",
    "q_k3_csv_roundtrip",
    "q_k3_json_roundtrip",
    "q_k3_orc_roundtrip",
    "q_s1_csv_scan",
    "q_s5_rest_source",
    "q_s6_inline_table",
    "q_k2_batch_audit",
    "q_j2_point_lookup",
    "q_a1_accuracy",
    "q_e14_partitioned_scan",  # temp-dir lake write
    "q_k8_shard_export",  # shard-partitioned lake write + read-back
    "q_k9_quarantine",  # dual lake write + audit read-back
    "q_s9_schema_evolution",  # temp-dir two-batch write
    "q_prep_semantic_decontaminate",  # control-plane benchmark collect at build
    "q_e3_ivfpq_trained",  # two k-means fit jobs collect centroid means at build
    "q_prep_temperature_mixture",  # domain stats collected at build
    "q_prep_bloom_decontaminate",  # benchmark bitset collected at build
    "q_e3_ivfpq_stored",  # temp-dir cell-partitioned index write at build
    "q_prep_semantic_decontaminate_arrow",  # same collect at build
    "q_k10_cdc_apply",  # staged-swap lake writes + read-back
    "q_e11_stream_neardup",  # streaming run + lake writes
    "q_e11_stream_neardup_live",  # streaming run + lake writes
    "q_e11_stream_neardup_arrow",  # streaming run + lake writes
    "q_s10_corrupt_json",  # temp-dir feed write
    "q_e3_pca_power",  # dim-row control-plane collects per iteration
    "q_e3_pca_power1",  # same collects, single iteration
    "q_a10_bradley_terry",  # pair matrix + MM states checkpointed at build
    "q_prep_pps_sample",  # ranged frame checkpointed at build (_pid pin)
}

#: theta joins that plan as BroadcastNestedLoop but whose BOTH sides are
#: bounded by an aggregate's group-key cardinality, never data volume —
#: the nested loop IS the right plan there (cheaper than any shuffle for
#: a handful of rows); tools/plan_report.py renders these as BNL-bounded
#: with the declared justification instead of flagging them raw
BOUNDED_BNL_QUERIES = {
    "q_a6_abtest": "variants² pair join over the per-variant aggregate",
    "q_e3_ann_recall": (
        "exact ground-truth side is a broadcast crossJoin of the "
        "20-row literal-bounded probe set (vec_id < 20) — the audit "
        "samples its probes by construction, never corpus×corpus"
    ),
    "q_e2_neardup_recall": (
        "exact ground-truth side is a crossJoin of the 440-doc "
        "literal-bounded audit sample (doc_id < 400 + seeded recrawls; "
        "the operator's quadratic guard is explicitly waived here with "
        "allow_quadratic=True to keep the plan pure — the bound comes "
        "from the literal filter, not a runtime probe) — recall is "
        "audited on a sample by construction, never corpus×corpus"
    ),
    "q_e9_blocking_quality": (
        "exact ground-truth side is a crossJoin of the 330-doc "
        "literal-bounded audit sample (doc_id < 300 + seeded recrawls; "
        "guard waived with allow_quadratic=True, bound is the literal "
        "filter) plus two one-row stat-frame broadcast joins — the "
        "audit samples by construction, never corpus×corpus"
    ),
}

#: sectionizer patterns over the synthetic documents vocabulary (stand-in for
#: the clinical report headers; F4 semantics identical)
DOC_PATTERNS = {
    "gross": "table ([a-z]+)",
    "addendum": "window ([a-z]+)",
    "diagnosis": "join ([a-z]+)",
    "diagnosis_comment": "merge ([a-z]+)",
    "micro": "scan ([a-z]+)",
}

LABEL_DIM = [(1, k, f"NAME_{k}") for k in range(16)]


def _label_dim(spark: SparkSession, n: int = len(LABEL_DIM)) -> DataFrame:
    """The first ``n`` rows of the labels dimension as an Arrow local
    relation (``tuning.control_frame``; every value is a plain int or
    str).  ``createDataFrame`` over the tuples would be a pickled RDD,
    whose broadcast runs a Python-worker job."""
    return control_frame(
        spark, LABEL_DIM[:n], "model_id long, label long, label_name string"
    )


def _sql_clean(expr: str) -> str:
    """DuckDB replica of functions.cleaning.clean_msg's regexp chain."""
    s = expr
    s = f"regexp_replace({s}, '{cleaning._HL7_BREAKS}', chr(10), 'g')"
    s = f"regexp_replace({s}, '{cleaning._HL7_SEGMENT_PREFIX}', '', 'g')"
    s = f"regexp_replace({s}, '{cleaning._CONTROL_CHARS}', ' ', 'g')"
    s = f"regexp_replace({s}, '{cleaning._MULTI_WS}', ' ', 'g')"
    s = f"regexp_replace({s}, '{cleaning._MULTI_NL}', chr(10), 'g')"
    return f"regexp_replace({s}, '^\\s+|\\s+$', '', 'g')"


def _sql_sections(msg: str) -> str:
    """DuckDB replica of functions.sections.create_sections over ``msg``

    (select-list fragment; expects to be wrapped in a CTE that provides
    the msg expression as column ``{msg}``)."""
    ex = {k: f"regexp_extract({msg}, '{p}', 1)" for k, p in DOC_PATTERNS.items()}
    names = list(DOC_PATTERNS)
    any_hit = " OR ".join(f"{ex[n]} <> ''" for n in names)
    # empty slots skipped, matching the engine's array_join-over-filter
    joined = (
        "array_to_string(list_filter(["
        + ", ".join(ex[n] for n in names)
        + "], x -> x <> ''), ' ')"
    )
    fields = ", ".join(f"{ex[n]} AS {n}" for n in names)
    return (
        f"{fields}, "
        f"CASE WHEN {any_hit} THEN trim({joined}) ELSE {msg} END AS filtered_message, "
        f"CASE WHEN {ex['diagnosis']} <> '' OR {ex['addendum']} <> '' THEN 'diag_or_add' "
        f"WHEN {ex['gross']} <> '' OR {ex['micro']} <> '' THEN 'gross_or_micro' "
        f"ELSE 'entire report' END AS part_of_report"
    )


def _sql_truncate(fm: str, part: str, budget: int) -> str:
    """DuckDB replica of functions.truncate.truncate_text_chars."""
    return (
        f"CASE WHEN length({fm}) <= {budget} THEN {fm} "
        f"WHEN {part} = 'entire report' "
        f"THEN substr({fm}, length({fm}) - {budget - 1}, {budget}) "
        f"ELSE substr({fm}, 1, {budget}) END"
    )


def _label_dim_values() -> str:
    rows = ", ".join(
        f"(CAST({m} AS BIGINT), CAST({k} AS BIGINT), '{n}')" for m, k, n in LABEL_DIM
    )
    return f"(VALUES {rows}) AS l(model_id, label, label_name)"


# -- the engine hashes, replayed in DuckDB ----------------------------------
# One builder per fact: the poly fold (preparation._poly_hash_sql), Spark's
# xxhash64 of a string, the char n-gram list (dedup.char_shingles), the
# exact Jaccard ratio, and the affine MinHash signature + raw-tuple band
# keys (dedup._minhash_min_sql, _family_bands).  Every oracle that replays
# an engine hash composes these.


def _duck_poly(s: str) -> str:
    """DuckDB replay of ``preparation._poly_hash_sql``: the
    ``(acc*31 + codepoint) % 1_000_003`` fold over ``s``'s characters."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(list_filter(string_split({s}, ''), x -> x <> ''), "
        "ch -> CAST(ascii(ch) AS BIGINT))), "
        f"(acc, x) -> (acc * 31 + x) % {_POLY_MOD})"
    )


#: XXH64's five primes, in the order of the reference algorithm
_XXH_PRIMES = (
    11400714785074694791, 14029467366897019727, 1609587929392839161,
    9650029242287828579, 2870177450012600261,
)


def _duck_xxhash64(s: str) -> str:
    """DuckDB replay of Spark's ``xxhash64(s)`` for a VARCHAR fragment
    ``s``: XXH64 with seed 42 over the UTF-8 bytes, as a signed BIGINT
    (``42`` for NULL, as Spark).  Plain SQL text, so an oracle stays
    self-contained.

    Written against DuckDB 1.0's traps: the 64-bit words live in
    ``UHUGEINT`` and every step is taken mod 2^64 by a ``& (2^64 - 1)``
    mask (the same residue as ``% 2^64`` without a 128-bit division,
    ~30× faster); every operand is cast, because ``UHUGEINT + BIGINT``
    silently becomes ``DOUBLE``; rotations multiply instead of ``<<``,
    which raises on overflow.  A value used twice is bound once by
    ``list_transform([e], v -> ...)[1]``, and no lambda sits inside a
    ``CASE`` branch (DuckDB 1.0 then returns wrong values for some rows
    of a batch).  Bytes are read from ``hex(encode(s))``.  A hash costs
    ~25 µs of DuckDB time for 8 bytes and ~130 µs for 300 bytes (4-core
    host), so an oracle hashes the DISTINCT strings and joins the hashes
    back (``_duck_xxhash64_cte``).  Spark's ``pmod`` is
    ``((h % m) + m) % m``: DuckDB's ``%`` keeps a negative BIGINT's sign.
    """
    def u(v):
        return f"CAST({v} AS UHUGEINT)"

    m = u((1 << 64) - 1)
    p1, p2, p3, p4, p5 = (u(p) for p in _XXH_PRIMES)

    def mod(e):
        return f"(({e}) & {m})"

    # lambda parameters carry a leading underscore: DuckDB 1.0 binds a
    # column of the same name instead of the parameter
    def let(e, v, body):
        return f"list_transform([{e}], {v} -> {body})[1]"

    def rotl(e, r):
        return let(e, "_r", f"({mod(f'_r * {u(1 << r)}')} + (_r >> {64 - r}))")

    def rnd(acc, lane):
        mixed = mod(f"{acc} + {mod(f'{lane} * {p2}')}")
        return mod(f"{rotl(mixed, 31)} * {p1}")

    def word(off, nbytes):
        hx = f"substr(_x, 2 * ({off}) + 1, {2 * nbytes})"
        if nbytes == 1:
            return f"CAST(CAST('0x' || {hx} AS UBIGINT) AS UHUGEINT)"
        # reverse() puts the hex digits in little-endian order but swaps
        # the two nibbles of every byte; the masks swap them back
        rev = f"CAST(CAST('0x' || reverse({hx}) AS UBIGINT) AS UHUGEINT)"
        nib = u(int("0F" * nbytes, 16))
        return f"(({rev} & {nib}) * {u(16)} + (({rev} >> 4) & {nib}))"

    def fold(init, count, off, nbytes, step):
        return (
            f"list_reduce(list_prepend({init}, list_transform(range({count}), "
            f"_k -> {word(off, nbytes)})), (_h, _w) -> {step})"
        )

    n = "(length(_x) // 2)"
    seeds = (42 + _XXH_PRIMES[0] + _XXH_PRIMES[1], 42 + _XXH_PRIMES[1], 42,
             42 - _XXH_PRIMES[0])
    init = ", ".join(
        f"'{c}': {u(v % (1 << 64))}" for c, v in zip("abcd", seeds)
    )
    stripe = ", ".join(
        f"'{c}': {word(f'32 * _k + {8 * j}', 8)}" for j, c in enumerate("abcd")
    )
    lanes = ", ".join(f"'{c}': {rnd(f'_h.{c}', f'_w.{c}')}" for c in "abcd")
    # the 32-byte stripes fold four lanes; a shorter input starts from
    # seed + P5 instead (both sides are computed, the CASE picks a value)
    stripes = (
        f"list_reduce(list_prepend({{{init}}}, list_transform("
        f"range({n} // 32), _k -> {{{stripe}}})), (_h, _w) -> {{{lanes}}})"
    )
    merged = mod(" + ".join(
        rotl(f"_v.{c}", r) for c, r in zip("abcd", (1, 7, 12, 18))
    ))
    for c in "abcd":
        merged = mod(f"xor({merged}, {rnd(u(0), f'_v.{c}')}) * {p1} + {p4}")
    h = let(
        let(stripes, "_v", merged), "_g",
        mod(f"CASE WHEN {n} >= 32 THEN _g ELSE {u(42 + _XXH_PRIMES[4])} END"
            f" + CAST({n} AS UHUGEINT)"),
    )
    # the tail: 8-byte words, one 4-byte word, single bytes
    r8 = rnd(u(0), "_w")
    w4, w1 = mod(f"_w * {p1}"), mod(f"_w * {p5}")
    h = fold(
        h, f"({n} % 32) // 8", f"32 * ({n} // 32) + 8 * _k", 8,
        mod(f"{rotl(f'xor(_h, {r8})', 27)} * {p1} + {p4}"),
    )
    h = fold(
        h, f"({n} % 8) // 4", f"{n} - {n} % 8", 4,
        mod(f"{rotl(f'xor(_h, {w4})', 23)} * {p2} + {p3}"),
    )
    h = fold(
        h, f"{n} % 4", f"{n} - {n} % 4 + _k", 1,
        mod(f"{rotl(f'xor(_h, {w1})', 11)} * {p1}"),
    )
    for shift, p in ((33, p2), (29, p3)):
        h = let(h, "_a", mod(f"xor(_a, _a >> {shift}) * {p}"))
    h = let(
        h, "_a",
        f"CAST(CAST(xor(_a, _a >> 32) AS HUGEINT) - CASE WHEN _a >= "
        f"{u(1 << 63)} THEN CAST({1 << 64} AS HUGEINT) ELSE 0 END AS BIGINT)",
    )
    return f"coalesce({let(f'hex(encode({s}))', '_x', h)}, CAST(42 AS BIGINT))"


def _duck_xxhash64_cte(name: str, col: str, src: str) -> str:
    """CTE definition ``name(col, h)``: Spark's ``xxhash64(col)`` of each
    DISTINCT non-NULL value of ``col`` in relation ``src``, to be joined
    back on ``col``.  MATERIALIZED, so the hash runs once per distinct
    value whatever plan DuckDB picks for the join."""
    return (
        f"{name} AS MATERIALIZED (\n  SELECT {col}, {_duck_xxhash64(col)} AS h\n"
        f"  FROM (SELECT DISTINCT {col} FROM {src} WHERE {col} IS NOT NULL)\n)"
    )


def _duck_shingles(n: int) -> str:
    """DuckDB replay of ``dedup.char_shingles(text, n)`` over column
    ``text``: the distinct char n-grams; a text shorter than ``n`` is its
    own single shingle."""
    return (
        "list_distinct(list_transform("
        f"generate_series(1, greatest(length(text) - {n - 1}, 1)), "
        f"i -> substr(text, CAST(i AS INT), {n})))"
    )


def _duck_jaccard(a: str, b: str) -> str:
    """Exact Jaccard of two distinct lists (``dedup._jaccard_sql``)."""
    return (
        f"len(list_intersect({a}, {b})) * 1.0 "
        f"/ len(list_distinct(list_concat({a}, {b})))"
    )


def _duck_minhash(
    name: str, src: str, keys: str, num_hashes: int, bands: int,
    family: str = "portable",
) -> str:
    """CTE definitions (no leading ``WITH``) of the MinHash band keys of
    relation ``src`` (columns ``keys`` + ``text``): char 5-gram shingles →
    shingle hash of ``family`` → ``min((a·h + b) mod p)`` per affine pair
    of ``_affine_params(num_hashes, 42)`` → ``bands`` raw-tuple bucket
    keys.  The last CTE is ``name``, with columns ``keys, band, bucket``;
    ``{name}_sh`` holds ``keys, s`` (one row per distinct shingle).

    ``family="portable"`` hashes a shingle with the poly fold;
    ``"xxhash64"`` with ``pmod(xxhash64(shingle), p)``, hashing each
    distinct shingle once into ``{name}_u(s, h)`` (``h`` the raw
    xxhash64).  The xxhash64 family's Spark band key is ``xxhash64`` of
    the same tuple text, which pairs the same documents up to a 2⁻⁶⁴
    collision, so both families join on the text.  ``{name}_sigs`` is
    materialized: the band selects and any self-join of ``name`` would
    otherwise re-run the signature aggregate once each."""
    from dataengineer_spark.operators.dedup import _MERSENNE, _affine_params

    mins = ",\n    ".join(
        f"min(({a} * h + {b}) % {_MERSENNE}) AS s{j + 1}"
        for j, (a, b) in enumerate(_affine_params(num_hashes, seed=42))
    )
    rows = num_hashes // bands
    band_selects = "\nUNION ALL\n".join(
        f"SELECT {keys}, {b} AS band, "
        + " || ',' || ".join(
            f"CAST(s{b * rows + r + 1} AS VARCHAR)" for r in range(rows)
        )
        + f" AS bucket FROM {name}_sigs"
        for b in range(bands)
    )
    if family == "portable":
        hashed = f"""{name}_h AS (
  SELECT {keys}, {_duck_poly("s")} AS h FROM {name}_sh
)"""
    else:
        distinct = _duck_xxhash64_cte(f"{name}_u", "s", f"{name}_sh")
        hashed = f"""{distinct}, {name}_h AS (
  SELECT {keys}, (u.h % {_MERSENNE} + {_MERSENNE}) % {_MERSENNE} AS h
  FROM {name}_sh JOIN {name}_u u USING (s)
)"""
    return f"""{name}_sh AS (
  SELECT {keys}, unnest({_duck_shingles(5)}) AS s FROM {src}
), {hashed}, {name}_sigs AS MATERIALIZED (
  SELECT {keys}, {mins}
  FROM {name}_h GROUP BY {keys}
), {name} AS (
  {band_selects}
)"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents scan fanned out for CPU-bound text stages (single-row-group
    local files scan as one task; no-op at production partition counts)."""
    return fan_out(load_table(spark, sf_dir, "documents"))


def _docs_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        F.col("doc_id").alias("msgid"), F.col("text").alias("message")
    )


# ---------------------------------------------------------------------------
# flagship pipeline (entry + q_pipeline_dx_group)
# ---------------------------------------------------------------------------


def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DX-Group pipeline shape over documents: clean → sectionize →

    truncate → stand-in classify → label join → export rename (§3.1+§3.2
    deltas), one lazy plan, no shuffle except the broadcast dim join."""
    source = _docs_source(spark, sf_dir)
    cleaned = clean_stage(source, batch_id=1, id_col="msgid", msg_col="message")
    preped = prep_stage(cleaned, DOC_PATTERNS)
    predictions = predict_stage(
        preped,
        model_id=1,
        classifier=arith_standin_classifier("msgid", "model_input"),
        char_budget=200,
    )
    return publish_stage(predictions, _label_dim(spark))


_FLAGSHIP_ORACLE = f"""
WITH cleaned AS (
  SELECT CAST(1 AS BIGINT) AS batch_id, doc_id AS msgid, {_sql_clean('text')} AS msg
  FROM documents
), prep AS (
  SELECT batch_id, msgid, {_sql_sections('msg')} FROM cleaned
), trunc AS (
  SELECT batch_id, msgid,
         {_sql_truncate('filtered_message', 'part_of_report', 200)} AS model_input
  FROM prep
), pred AS (
  SELECT batch_id, msgid,
         (msgid * {STANDIN_MULT} + length(model_input)) % 1000000 AS h
  FROM trunc
)
SELECT p.batch_id AS batchid, p.msgid,
       p.h % 16 AS predicted_label_id,
       CAST(p.h % 1000 AS DOUBLE) / 1000.0 AS model_score,
       CAST(1 AS BIGINT) AS model_id,
       l.label_name AS predicted_label
FROM pred p JOIN {_label_dim_values()} ON p.h % 16 = l.label
"""


def _marker_post_fn(marker_dir: str):
    """Executor-side POST stand-in: one marker file per batch POSTed
    (the tests' RestSink contract) — lets the flagship exercise the K4
    upload path end-to-end without a live endpoint."""

    def post(url: str, params: dict) -> list:
        import os
        import uuid as _uuid

        with open(os.path.join(marker_dir, _uuid.uuid4().hex), "w") as fh:
            fh.write(str(len(params["records"])))
        return []

    return post


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Finishes with the API-variant publish (K4, reference
    diagnostic_group_pipeline_with_api.py upload step): the result
    frame is POSTed batch-wise through ``RestSink.upload`` (the
    ``foreachPartition`` bulk path) against a local marker-dir post_fn
    before being returned, so the driver smoke covers the last
    otherwise-unsmoked sink.  The frame is materialized ONCE via
    ``lineage_cut`` and shared by both actions (upload here, the
    driver's collect after return) — a bare persist would pin cache
    blocks for the session lifetime with no caller able to unpersist
    (the joins.py lesson); checkpoint blocks free on frame GC.  The
    marker dir — whose only job is proving the executors POSTed — is
    removed before returning (review-caught: an un-cleaned mkdtemp
    accumulated across smoke runs).  The marker assertion requires
    executors to share the driver filesystem, so it only runs on a
    local[*] master; under a launcher-configured cluster master
    (session.py honors those) the publish still exercises the
    ``foreachPartition`` path but with a no-op post_fn (ADVICE r7).
    Values are unchanged."""
    import shutil

    from dataengineer_spark.tuning import lineage_cut

    out = lineage_cut(_flagship(spark, "/root/testdata/sf0.001"))
    if not spark.sparkContext.master.startswith("local"):
        RestSink("local://publish", post_fn=lambda url, params: []).upload(
            out, batch_size=500
        )
        return out
    marker_dir = tempfile.mkdtemp(prefix="spark_graft_rest_publish_")
    try:
        RestSink(
            "local://publish", post_fn=_marker_post_fn(marker_dir)
        ).upload(out, batch_size=500)
        if not os.listdir(marker_dir):
            raise RuntimeError("K4 publish produced no POST markers")
    finally:
        shutil.rmtree(marker_dir, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# §2.1 scans / sources
# ---------------------------------------------------------------------------


def q_s1_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    tmp = tempfile.mkdtemp(prefix="spark_graft_csv_")
    write_csv(docs, tmp)
    return read_csv(
        spark, tmp, schema="doc_id long, lang string, source string, n_chars long"
    )


def q_s2_table_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return proj_ops.select_where(
        li,
        columns=["l_orderkey", "l_partkey", "l_quantity"],
        conditions=[F.col("l_quantity") > 30],
    )


def q_s4_daterange_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    return proj_ops.date_range(orders, "o_orderdate", "1995-01-01", "1995-12-31")


def q_s6_inline_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return from_records(
        spark,
        [(1, "alpha"), (2, "beta"), (3, "gamma")],
        schema="id long, name string",
    )


def _fake_fetch(url: str, params: dict) -> list[dict]:
    """Deterministic fake REST page fetch (tests/driver; injectable)."""
    p = int(params["page"])
    return [
        {"rec_id": p * 100 + j, "page": p, "payload": f"rec_{p}_{j}"}
        for j in range(10)
    ]


def q_s5_rest_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = RestSource("local://fake", fetch_fn=_fake_fetch)
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("rec_id", T.LongType()),
            T.StructField("page", T.LongType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    return src.fetch_partitioned(spark, [{"page": p} for p in range(4)], schema)


def _rest_oracle() -> str:
    rows = ", ".join(
        f"(CAST({p * 100 + j} AS BIGINT), CAST({p} AS BIGINT), 'rec_{p}_{j}')"
        for p in range(4)
        for j in range(10)
    )
    return f"SELECT * FROM (VALUES {rows}) AS t(rec_id, page, payload)"


# ---------------------------------------------------------------------------
# §2.2 sinks / batch audit
# ---------------------------------------------------------------------------


def q_k2_batch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.batch import BatchAllocator
    from dataengineer_spark.catalog import Catalog
    from dataengineer_spark.config import RunConfig

    lake = tempfile.mkdtemp(prefix="spark_graft_lake_")
    alloc = BatchAllocator(Catalog(spark, lake))
    for name in ["dx_group", "dx_group", "prostate"]:
        alloc.open_batch(RunConfig(pipeline_name=name))
    return alloc.catalog.read("batch").select(
        "batch_id", "pipeline_name", "date_from", "date_to"
    )


_K2_ORACLE = """
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), 'dx_group', '20220101', '20291231'),
  (CAST(2 AS BIGINT), 'dx_group', '20220101', '20291231'),
  (CAST(3 AS BIGINT), 'prostate', '20220101', '20291231')
) AS t(batch_id, pipeline_name, date_from, date_to)
"""


# ---------------------------------------------------------------------------
# §2.3 projection / filters / column ops
# ---------------------------------------------------------------------------


def q_p1_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return proj_ops.project(load_table(spark, sf_dir, "documents"), ["doc_id", "lang"])


def q_p2_select_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    return proj_ops.select_where(
        load_table(spark, sf_dir, "lineitem"),
        columns=["l_orderkey", "l_quantity", "l_extendedprice"],
        conditions=[F.col("l_returnflag") == "R", F.col("l_quantity") < 10],
    )


def q_p3_conj_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return proj_ops.eq_filter(
        load_table(spark, sf_dir, "customer"), c_mktsegment="BUILDING", c_nationkey=5
    ).select("c_custkey", "c_name")


def q_p5_lit_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    # includes the M4 constant-classifier stamp (reference prostate_dag.py:172-177)
    return proj_ops.with_literals(
        load_table(spark, sf_dir, "documents").select("doc_id"),
        batch_id=F.lit(7).cast("bigint"),
        site_code="C61.9",
        behaviour_code="3",
        laterality="00",
        pred_score=1.0,
    )


def q_p6_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return proj_ops.rename_all(docs, ["msgid", "language", "origin"])


def q_p7_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = proj_ops.cast_column(docs, "n_chars", "double")
    return proj_ops.cast_column(out, "doc_id", "string")


def q_p8_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("lang") == "en", F.lit(None)).otherwise(F.col("lang")).alias("lang2"),
    )
    return proj_ops.drop_nulls(docs, how="any")


def q_p9_struct_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.struct(
            F.col("lang").alias("lang_s"), F.col("source").alias("source_s")
        ).alias("meta"),
    )
    return proj_ops.expand_struct(docs, "meta")


# ---------------------------------------------------------------------------
# §2.4 scalar functions
# ---------------------------------------------------------------------------


def q_f1_clean_msg(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    dirty = "concat('OBX|1|TX|', text, '~  tail\\t\\ttail2  ')"
    return docs.select("doc_id", clean_msg(dirty).alias("msg"))


_F1_ORACLE = (
    "SELECT doc_id, "
    + _sql_clean("concat('OBX|1|TX|', text, '~  tail' || chr(9) || chr(9) || 'tail2  ')")
    + " AS msg FROM documents"
)


def q_f4_sectionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return sectionize(docs, "text", DOC_PATTERNS)


_F4_ORACLE = f"SELECT doc_id, text, {_sql_sections('text')} FROM documents"


def q_f5_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    sec = sectionize(docs, "text", DOC_PATTERNS).select(
        "doc_id", "filtered_message", "part_of_report"
    )
    return sec.select(
        "doc_id",
        "part_of_report",
        truncate_text_chars("filtered_message", "part_of_report", 100).alias("truncated"),
    )


_F5_ORACLE = f"""
WITH s AS (SELECT doc_id, {_sql_sections('text')} FROM documents)
SELECT doc_id, part_of_report,
       {_sql_truncate('filtered_message', 'part_of_report', 100)} AS truncated
FROM s
"""


def q_f5_truncate_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 exact token-boundary truncation through the PRODUCTION Arrow
    iterator-pandas_udf path (functions.truncate.truncate_text_tokens),
    ORACLED: the dependency-free 'fake-offsets' tokenizer emits fixed
    4-char tokens (plus zero-width specials the offsets filter drops),
    which makes the token semantics SQL-expressible — ntok =
    ceil(len/4), tail cut = 4*(ntok-limit), head cut = 4*limit — so the
    full executor-side lifecycle (per-worker scheme resolution, the
    offset-mapping branch of _offsets, the exact-limit cut arithmetic of
    _truncate_one, Arrow struct returns) is hash-verified, not just
    pytest-pinned.  Same cut contract as the reference's tokenizer form
    (dx_group.py:49-61; exact-window divergence documented in
    functions/truncate.py).  Map-only plan: one ArrowEvalPython over the
    scan, no shuffle."""
    from dataengineer_spark.functions.truncate import truncate_text_tokens

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "text",
        F.when(F.col("doc_id") % 2 == 0, "entire report")
        .otherwise("gross_or_micro")
        .alias("part"),
    )
    out = docs.select(
        "doc_id",
        "part",
        truncate_text_tokens(
            "text", "part", tokenizer="fake-offsets", limit=50
        ).alias("o"),
    )
    return out.select(
        "doc_id",
        "part",
        F.col("o.filtered_message").alias("kept"),
        F.col("o.offset").alias("cut_offset"),
    )


_F5_TOKENS_ORACLE = """
WITH d AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 2 = 0 THEN 'entire report'
              ELSE 'gross_or_micro' END AS part,
         CAST(ceil(length(text) / 4.0) AS BIGINT) AS ntok
  FROM documents
)
SELECT doc_id, part,
       CASE WHEN text IS NULL THEN NULL
            WHEN ntok <= 50 THEN text
            WHEN part = 'entire report' THEN substr(text, 4 * (ntok - 50) + 1)
            ELSE substr(text, 1, 200) END AS kept,
       CAST(CASE WHEN text IS NULL OR ntok <= 50 THEN 0
                 WHEN part = 'entire report' THEN 4 * (ntok - 50)
                 ELSE 200 END AS INT) AS cut_offset
FROM d
"""


def q_f6_format_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        format_date(F.date_format("o_orderdate", "yyyy-MM-dd"), "%Y-%m-%d").alias("d"),
    )


def q_f7_split_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    raw = (
        "CASE WHEN lang = 'zh' THEN 'PLAIN' "
        "ELSE concat('LABEL_', CAST(pmod(doc_id * 37 + n_chars, 16) AS STRING)) END"
    )
    return docs.select(
        "doc_id", F.expr(raw).alias("raw_label"), split_label(raw).alias("parsed")
    )


_F7_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN lang = 'zh' THEN 'PLAIN'
              ELSE 'LABEL_' || CAST((doc_id * 37 + n_chars) % 16 AS VARCHAR) END AS raw_label
  FROM documents)
SELECT doc_id, raw_label,
       TRY_CAST(NULLIF(split_part(raw_label, '_', 2), '') AS BIGINT) AS parsed
FROM t
"""


# ---------------------------------------------------------------------------
# §2.5 joins & lookups
# ---------------------------------------------------------------------------


def q_j1_label_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    facts = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.pmod(F.col("doc_id") * 37 + F.col("n_chars"), F.lit(16)).alias("predicted_label"),
    )
    dim = _label_dim(spark, 12).select("label", "label_name")
    return join_ops.label_join(facts, dim).select(
        "doc_id", "predicted_label", "label_name"
    )


def _j1_oracle() -> str:
    rows = ", ".join(f"(CAST({k} AS BIGINT), '{n}')" for _, k, n in LABEL_DIM[:12])
    return f"""
SELECT d.doc_id, (d.doc_id * 37 + d.n_chars) % 16 AS predicted_label, l.label_name
FROM documents d JOIN (VALUES {rows}) AS l(label, label_name)
  ON (d.doc_id * 37 + d.n_chars) % 16 = l.label
"""


def q_j2_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    model = spark.createDataFrame(
        [(1, "standin", 1, "loc1"), (2, "standin", 2, "loc2"), (3, "other", 1, "loc3")],
        "model_id long, model_name string, model_version int, model_location string",
    )
    # DataFrame form of J2 (point_lookup() returns the Row; same plan)
    return proj_ops.eq_filter(model, model_name="standin", model_version=2).select(
        "model_id", "model_location"
    ).limit(1)


_J2_ORACLE = "SELECT CAST(2 AS BIGINT) AS model_id, 'loc2' AS model_location"


def q_j4_fanin_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    b1 = docs.select(F.col("doc_id").alias("msg_id"), "lang")
    b2 = docs.where(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("msg_id"), "n_chars"
    )
    b3 = docs.where(F.col("lang") == "en").select(
        F.col("doc_id").alias("msg_id"), "source"
    )
    return join_ops.fanin_merge([b1, b2, b3], on="msg_id", how="outer")


_J4_ORACLE = """
SELECT d.doc_id AS msg_id, d.lang, e.n_chars, s.source
FROM documents d
LEFT JOIN (SELECT doc_id, n_chars FROM documents WHERE doc_id % 2 = 0) e
  ON d.doc_id = e.doc_id
LEFT JOIN (SELECT doc_id, source FROM documents WHERE lang = 'en') s
  ON d.doc_id = s.doc_id
"""


# ---------------------------------------------------------------------------
# §2.6 aggregations (A1) + E5/E7/E8
# ---------------------------------------------------------------------------


def q_a1_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        F.pmod(F.col("doc_id") * 37 + F.col("n_chars"), F.lit(16)).alias("pred"),
        F.pmod(F.col("doc_id"), F.lit(16)).alias("truth"),
    )
    return agg_ops.accuracy(docs, "pred", "truth")


_A1_ORACLE = """
SELECT avg(CASE WHEN (doc_id * 37 + n_chars) % 16 = doc_id % 16
               THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) AS accuracy
FROM documents
"""


def q_e5_groupagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= "1998-09-02"
    )
    return agg_ops.group_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        ],
    )


_E5_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
       round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS revenue,
       round(CAST(avg(l_discount) AS DOUBLE), 6) AS avg_disc
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_e5_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return agg_ops.rollup_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        [F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")],
    )


_E5_ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""



def q_e5_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return agg_ops.cube_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        [F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")],
    )


_E5_CUBE_ORACLE = """
SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_e7_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return agg_ops.top_k(
        orders, [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 10
    ).select("o_orderkey", "o_totalprice")


_E7_ORACLE = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q_e8_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    both = agg_ops.intersect(cust, supp).withColumn("side", F.lit("both"))
    cust_only = agg_ops.except_rows(
        cust, supp, keep_duplicates=False
    ).withColumn("side", F.lit("customers_only"))
    return agg_ops.union_all([both, cust_only])


_E8_ORACLE = """
SELECT nationkey, 'both' AS side FROM
  (SELECT c_nationkey AS nationkey FROM customer
   INTERSECT SELECT s_nationkey FROM supplier)
UNION ALL
SELECT nationkey, 'customers_only' AS side FROM
  (SELECT c_nationkey AS nationkey FROM customer
   EXCEPT SELECT s_nationkey FROM supplier)
"""


# ---------------------------------------------------------------------------
# E6 windows, E9 join completions, E10 event-time
# ---------------------------------------------------------------------------


def q_e6_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    order_cols = [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()]
    ranked = win_ops.ranked(orders, ["o_custkey"], order_cols, "rn")
    lagged = win_ops.lag_lead(ranked, ["o_custkey"], order_cols, "o_totalprice")
    running = win_ops.running_agg(
        lagged, ["o_custkey"], order_cols, F.sum("o_totalprice"), "running_total"
    )
    return running.select(
        "o_custkey",
        "o_orderkey",
        F.col("rn").cast("bigint").alias("rn"),
        F.col("o_totalprice_lag").alias("prev_price"),
        F.col("o_totalprice_lead").alias("next_price"),
        F.round("running_total", 2).alias("running_total"),
    )


_E6_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       lag(o_totalprice) OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price,
       round(CAST(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING) AS DOUBLE), 2)
         AS running_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def q_e6_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 breadth: distribution functions (ntile/percent_rank/cume_dist)
    plus a 3-row moving average and partition first_value — two window
    specs total (rank spec + frame spec), so two Window operators over
    ONE shuffle on o_custkey."""
    orders = load_table(spark, sf_dir, "orders")
    order_cols = [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()]
    ranks = win_ops.distribution_ranks(orders, ["o_custkey"], order_cols)
    # moving avg as exact-decimal frame sum / frame count: one IEEE divide
    # on identical operands in both engines, so no association-order drift
    framed = win_ops.running_agg(
        ranks, ["o_custkey"], order_cols,
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")), "mov_sum",
        frame=(-2, 0),
    )
    framed = win_ops.running_agg(
        framed, ["o_custkey"], order_cols, F.count(F.lit(1)), "mov_n", frame=(-2, 0)
    )
    first = win_ops.running_agg(
        framed, ["o_custkey"], order_cols, F.first("o_totalprice"), "first_price"
    )
    return first.select(
        "o_custkey",
        "o_orderkey",
        F.col("tile").cast("bigint").alias("tile"),
        F.round("pct_rank", 6).alias("pct_rank"),
        F.round("cume", 6).alias("cume"),
        F.round(F.col("mov_sum").cast("double") / F.col("mov_n"), 6).alias("mov_avg"),
        "first_price",
    )


_E6_FRAMES_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(ntile(4) OVER w AS BIGINT) AS tile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER f AS DOUBLE)
             / count(*) OVER f, 6) AS mov_avg,
       first_value(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       f AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


def q_e9_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    active = join_ops.semi_join(cust, orders, "c_custkey").select(
        "c_custkey", F.lit("active").alias("status")
    )
    inactive = join_ops.anti_join(cust, orders, "c_custkey").select(
        "c_custkey", F.lit("inactive").alias("status")
    )
    return agg_ops.union_all([active, inactive])


_E9_SEMI_ORACLE = """
SELECT c_custkey, 'active' AS status FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT c_custkey, 'inactive' AS status FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def q_e9_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    joined = join_ops.range_join(
        li,
        orders,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate <= orders.o_orderdate + F.expr("INTERVAL 30 DAYS")),
    )
    return agg_ops.group_agg(
        joined, ["o_orderpriority"], [F.count("*").alias("n")]
    )


_E9_RANGE_ORACLE = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
FROM lineitem l JOIN orders o
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY
GROUP BY o_orderpriority
"""


def q_e9_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    signups = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("signup_value"))
    )
    out = join_ops.asof_join(
        purchases, signups, on="user_id", left_ts="ts", right_ts="ts"
    )
    return out.select("user_id", "event_id", "ts", "value", "signup_value")


_E9_ASOF_ORACLE = """
WITH p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
s AS (SELECT user_id, ts, max(value) AS signup_value
      FROM events WHERE event_type = 'signup' GROUP BY user_id, ts)
SELECT p.user_id, p.event_id, p.ts, p.value, s.signup_value
FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND s.ts <= p.ts
"""


def q_e9_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a match-gap tolerance (pandas merge_asof
    semantics): a signup more than 6 hours before the purchase no longer
    explains it — the matched value is nulled, the left row kept."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    signups = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("signup_value"))
    )
    out = join_ops.asof_join(
        purchases, signups, on="user_id", left_ts="ts", right_ts="ts",
        tolerance="6 hours",
    )
    return out.select("user_id", "event_id", "ts", "value", "signup_value")


_E9_ASOF_TOL_ORACLE = """
WITH p AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'),
s AS (SELECT user_id, ts, max(value) AS signup_value
      FROM events WHERE event_type = 'signup' GROUP BY user_id, ts),
j AS (
  SELECT p.user_id, p.event_id, p.ts, p.value, s.signup_value, s.ts AS s_ts
  FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND s.ts <= p.ts
)
SELECT user_id, event_id, ts, value,
       CASE WHEN s_ts >= ts - INTERVAL 6 HOUR THEN signup_value END
         AS signup_value
FROM j
"""


def q_e10_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = event_ops.tumbling(
        ev,
        "ts",
        "1 hour",
        ["event_type"],
        [F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value")],
    )
    return out.select("window_start", "window_end", "event_type", "n", "total_value")


_E10_TUMBLING_ORACLE = """
SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS window_start,
       make_timestamp((epoch_us(ts) // 3600000000) * 3600000000 + 3600000000) AS window_end,
       event_type, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(value) AS DOUBLE), 2) AS total_value
FROM events GROUP BY 1, 2, 3
"""


def q_e10_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 2h windows sliding 1h — each event lands in 2 windows."""
    ev = load_table(spark, sf_dir, "events")
    out = event_ops.sliding(
        ev,
        "ts",
        "2 hours",
        "1 hour",
        ["event_type"],
        [F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value")],
    )
    return out.select("window_start", "window_end", "event_type", "n", "total_value")


_E10_SLIDING_ORACLE = """
WITH x AS (
  SELECT make_timestamp((epoch_us(ts) // 3600000000 - o) * 3600000000) AS ws,
         event_type, value
  FROM events CROSS JOIN (VALUES (0), (1)) AS t(o)
)
SELECT ws AS window_start,
       ws + INTERVAL 2 HOUR AS window_end,
       event_type, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(value) AS DOUBLE), 2) AS total_value
FROM x GROUP BY 1, 2, 3
"""



def q_e10_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel over the event stream."""
    ev = load_table(spark, sf_dir, "events")
    return event_ops.funnel_counts(
        ev, "ts", "user_id", "event_type", ["view", "click", "purchase"]
    )


_E10_FUNNEL_ORACLE = """
WITH t1 AS (
  SELECT user_id, min(epoch_us(ts)) AS t FROM events
  WHERE event_type = 'view' GROUP BY 1
), t2 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t FROM events e
  JOIN t1 USING (user_id)
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > t1.t GROUP BY 1
), t3 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t FROM events e
  JOIN t2 USING (user_id)
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > t2.t GROUP BY 1
)
SELECT 1 AS step, 'view' AS event_type, (SELECT CAST(count(*) AS BIGINT) FROM t1) AS n_users
UNION ALL SELECT 2, 'click', (SELECT count(*) FROM t2)
UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM t3)
"""


def q_e10_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10 metric-drift tripwire: per-user trailing-window z-score anomaly
    flags (event_ops.trailing_anomalies — bounded rows frame ending at
    -1, one shuffle on user_id, O(lookback) window state).  z computed
    from exact frame sums so the SQL oracle replays the identical float
    sequence; event_id makes the order total."""
    ev = load_table(spark, sf_dir, "events")
    return event_ops.trailing_anomalies(
        ev,
        ["user_id"],
        "ts",
        "value",
        lookback=20,
        z_threshold=3.0,
        min_history=5,
        tiebreakers=["event_id"],
    )


_E10_ANOMALY_ORACLE = """
WITH w AS (
  SELECT user_id, ts, value,
         count(value) OVER win AS n,
         sum(value) OVER win AS s1,
         sum(value * value) OVER win AS s2
  FROM events
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
), z AS (
  SELECT user_id, ts, value,
         CASE WHEN n >= 5 AND (s2 - s1 * s1 / n) / (n - 1) > 0
              THEN (value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1))
         END AS zs
  FROM w
)
SELECT user_id, ts, value, round(zs, 6) AS z_score,
       coalesce(abs(zs) > 3.0, FALSE) AS is_anomaly
FROM z
"""


def q_e10_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10 cohort-retention matrix (event_ops.cohort_retention): users
    cohorted by first-event day; each (cohort_day, period_day) cell counts
    distinct cohort members active that many days later.  One shuffle on
    user_id shared by the first-touch agg and the activity join; output
    is bounded by days², independent of row count."""
    ev = load_table(spark, sf_dir, "events")
    # DATE → TIMESTAMP for the cross-engine compare (pandas reads Spark
    # dates as objects but DuckDB dates as datetime64)
    return event_ops.cohort_retention(ev, "user_id", "ts").withColumn(
        "cohort_day", F.col("cohort_day").cast("timestamp")
    )


_E10_RETENTION_ORACLE = """
WITH f AS (
  SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day FROM events GROUP BY user_id
), act AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
)
SELECT CAST(f.cohort_day AS TIMESTAMP) AS cohort_day,
       CAST(datediff('day', f.cohort_day, act.d) AS INTEGER) AS period_day,
       count(DISTINCT act.user_id) AS n_users
FROM act JOIN f USING (user_id)
GROUP BY 1, 2
"""


def q_e10_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10 time-series densify: daily mean resample per user with
    calendar gap-fill (sequence-exploded day grid bounded by each user's
    span) and forward fill (last ignorenulls over an unbounded-preceding
    frame).  Day means use exact decimal sums over 6-digit-rounded values
    so the oracle replays identical floats; one shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events")
    out = event_ops.resample_ffill(ev, ["user_id"], "ts", "value", scale=6)
    # DATE → TIMESTAMP for the cross-engine compare (see q_e10_retention)
    return out.withColumn("day", F.col("day").cast("timestamp"))


_E10_RESAMPLE_ORACLE = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         round(CAST(sum(CAST(round(value, 6) AS DECIMAL(27,6))) AS DOUBLE)
               / count(value), 6) AS day_avg
  FROM events GROUP BY 1, 2
), spans AS (
  SELECT user_id, min(day) AS lo, max(day) AS hi FROM daily GROUP BY user_id
), grid AS (
  SELECT user_id,
         CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                     CAST(hi AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM spans
)
SELECT g.user_id, CAST(g.day AS TIMESTAMP) AS day, d.day_avg,
       last_value(d.day_avg IGNORE NULLS)
         OVER (PARTITION BY g.user_id ORDER BY g.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
FROM grid g LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
"""


def q_e10_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10 conversion attribution (event_ops.touch_attribution): every
    purchase credits its user's first-ever and most-recent prior touch
    (click/view) via first/last-ignorenulls windows ending at -1 — one
    shuffle on user_id, O(1) window state, tiny (model, touch) output.
    Conversions with no prior touch land in '(direct)'."""
    ev = load_table(spark, sf_dir, "events")
    return event_ops.touch_attribution(
        ev, "user_id", "ts", "event_type", "value",
        ["click", "view"], "purchase", tiebreakers=["event_id"],
    )


_E10_ATTRIBUTION_ORACLE = """
WITH t AS (
  SELECT user_id, event_type,
         CAST(round(value, 6) AS DECIMAL(27,6)) AS v,
         first_value(CASE WHEN event_type IN ('click','view')
                          THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft,
         last_value(CASE WHEN event_type IN ('click','view')
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
  FROM events
), conv AS (SELECT * FROM t WHERE event_type = 'purchase')
SELECT 'first_touch' AS model, coalesce(ft, '(direct)') AS touch_type,
       count(*) AS n_conversions, round(CAST(sum(v) AS DOUBLE), 2) AS total_value
FROM conv GROUP BY 2
UNION ALL
SELECT 'last_touch' AS model, coalesce(lt, '(direct)') AS touch_type,
       count(*) AS n_conversions, round(CAST(sum(v) AS DOUBLE), 2) AS total_value
FROM conv GROUP BY 2
"""


def q_a2_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family model evaluation: exact ROC AUC by the Mann-Whitney
    rank-sum identity WITHOUT a global row sort (agg_ops.roc_auc) — one
    hash aggregate to per-distinct-score (n_pos, n_neg) counts, one
    window over the distinct-score axis (cardinality bounded by score
    precision, not rows), ties as half-credit; all pair counts integral
    so the result is an exact rational.  Score = first embedding
    component (6-digit), positive = label >= 5."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("score"),
        "label",
    )
    return agg_ops.roc_auc(scored, "score", F.col("label") >= 5)


_A2_AUC_ORACLE = """
WITH s AS (
  SELECT round(CAST(embedding[1] AS DOUBLE), 6) AS sc,
         CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
  FROM embeddings
), per AS (
  SELECT sc, sum(y) AS np, sum(1 - y) AS nn FROM s GROUP BY sc
), acc AS (
  SELECT np, nn,
         2 * np * coalesce(sum(nn) OVER (ORDER BY sc
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + np * nn AS num2
  FROM per
)
SELECT round(CAST(sum(num2) AS DOUBLE) / (2.0 * sum(np) * sum(nn)), 6) AS auc,
       CAST(sum(np) AS BIGINT) AS n_pos, CAST(sum(nn) AS BIGINT) AS n_neg
FROM acc
"""


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics (operators/graph.py): 5-iteration PageRank over
    the supplier co-occurrence graph (suppliers sharing an order, both
    directions — symmetric, so no dangling mass).  The power iteration
    is one SQL statement over persisted, dst-partitioned edges: each
    round one broadcast join on src + one hash aggregate on dst;
    contributions round-then-decimal-sum so the whole power iteration is
    bit-reproducible and the oracle can replay it as unrolled CTEs.

    Edge build: per-order collect_set + in-partition pair explode (see
    _cooccurrence_edges — round-11 replaced the lineitem self-join;
    identical distinct edge set, one scan, no broadcast build)."""
    from dataengineer_spark.operators import graph as graph_ops

    return graph_ops.pagerank(
        _supplier_edges(spark, sf_dir), "src", "dst", damping=0.85,
        iterations=5,
    )


def _cooccurrence_edges(
    spark: SparkSession, sf_dir: str, item_col: str, canonical: bool = False
) -> DataFrame:
    """Distinct co-occurrence edge list: items sharing an ``l_orderkey``
    — ``canonical=False`` emits both directions (x ≠ y), ``True`` one
    canonical row (x < y).

    Round-11 optimization (guide §2.4/§3.1): the original form was a
    lineitem SELF-JOIN on l_orderkey — two scans, a round-robin fan_out
    exchange under BOTH branches, and a 600 k-row broadcast build at
    sf0.1 (at 100 TB the build side outgrows broadcast and the planner
    degrades to a sort-merge join, i.e. two corpus sorts).  Rewritten as
    one groupBy(l_orderkey).collect_set + an in-partition pair explode:
    ONE scan, ONE shuffle of the (orderkey, item) rows, no broadcast /
    no join at any scale, and the quadratic pair expansion happens
    inside the partition exactly where the self-join would have done the
    same multiplication.  Per-key set sizes are bounded by the per-order
    item count (≤7 in this schema; the co-occurrence quadratic itself is
    inherent in either form).  The distinct edge SET is provably
    identical to the self-join's (collect_set dedups what distinct
    collapsed; NULL items drop on both paths), so every downstream rank/
    census/BFS value — and the pinned oracle hashes — are unchanged.
    Measured sf0.1: edge build 2.06 → 1.55 s; pagerank(5) 6.25 → 4.88 s
    (5a920ce:tools/profile_r11_pr2.py, eqcheck 0 differing rows)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", item_col)
    pairs = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set(item_col).alias("_is"))
        .select(F.explode("_is").alias("src"), F.col("_is").alias("_is2"))
        .select("src", F.explode("_is2").alias("dst"))
    )
    cond = (
        (F.col("src") < F.col("dst"))
        if canonical
        else (F.col("src") != F.col("dst"))
    )
    return pairs.where(cond).distinct()


def _supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared edge list for the PageRank iteration-count twins — ONE
    builder so the twins provably run the identical graph (the
    oracle-sharing contract rests on identical inputs)."""
    return _cooccurrence_edges(spark, sf_dir, "l_suppkey")


def q_graph_pagerank3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration variant of ``q_graph_pagerank`` — benched alongside
    the 5-iteration form to separate the loop's FIXED cost (edge build,
    degree/node materialization) from the per-round cost: wall(5) −
    wall(3) ≈ 2 × per-iteration, wall(3) − 3 × per-iteration ≈ setup.
    Same bit-reproducible arithmetic; oracle is the 3-stage unroll."""
    from dataengineer_spark.operators import graph as graph_ops

    return graph_ops.pagerank(
        _supplier_edges(spark, sf_dir), "src", "dst", damping=0.85,
        iterations=3,
    )


def q_graph_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank with dangling-mass REDISTRIBUTION (graph.pagerank
    dangling="redistribute", VERDICT r10 item 4) on a graph that
    actually has sinks: the directed supplier→part bipartite graph
    (parts never ship rank forward).  Each round the dangling nodes'
    total rank — one node-bounded semi join + exact decimal scalar,
    broadcast-cross-joined into the lazy plan — is spread uniformly:
    rank = (1-d)/N + d·(Σ contrib + leak/N).  The default "leak" form
    (q_graph_pagerank) is unchanged, so its pinned hashes stand.
    Oracle: the 3-stage unrolled CTE with the per-round leak scalar
    folded in, replaying the identical float path (round/14 → decimal
    sum → double → round/12)."""
    from dataengineer_spark.operators import graph as graph_ops

    li = fan_out(
        load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey")
    )
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        # offset part keys out of the supplier id range: one shared node
        # namespace, no accidental supplier/part id collisions
        (F.col("l_partkey") + 1_000_000).alias("dst"),
    ).distinct()
    return graph_ops.pagerank(
        edges, "src", "dst", damping=0.85, iterations=3,
        dangling="redistribute",
    )


def _pagerank_dangling_oracle(iters: int = 3) -> str:
    """Unrolled power iteration with per-round dangling redistribution —
    every float step mirrors graph.pagerank(dangling="redistribute"):
    leak = Σ round(rank,14)::DECIMAL(38,14) over sink nodes, the scalar
    lk = round(leak::double / N, 14), contribs as in _pagerank_oracle,
    rank = round((1-d)/N + d·(sc::double + lk), 12) with the
    contribution-less floor round((1-d)/N + d·lk, 12)."""
    head = """
WITH e AS (
  SELECT DISTINCT l_suppkey AS src, l_partkey + 1000000 AS dst
  FROM lineitem
), deg AS (
  SELECT src, count(*) AS d FROM e GROUP BY src
), nodes AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), nn AS (
  SELECT count(*) AS n FROM nodes
), dang AS (
  SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM deg)
), r0 AS (
  SELECT node, round(1.0 / nn.n, 12) AS rank FROM nodes CROSS JOIN nn
)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f""", lk{i} AS (
  SELECT round(CAST(coalesce(
           (SELECT sum(CAST(round(r.rank, 14) AS DECIMAL(38,14)))
            FROM r{i - 1} r JOIN dang USING (node)),
           0) AS DOUBLE) / nn.n, 14) AS lk
  FROM nn
), s{i} AS (
  SELECT e.dst AS node,
         sum(CAST(round(r.rank / deg.d, 14) AS DECIMAL(38,14))) AS sc
  FROM e JOIN deg ON deg.src = e.src
  JOIN r{i - 1} r ON r.node = e.src
  GROUP BY e.dst
), r{i} AS (
  SELECT n.node,
         CASE WHEN s.node IS NOT NULL
              THEN round((1.0 - 0.85) / nn.n
                         + 0.85 * (CAST(s.sc AS DOUBLE) + lk{i}.lk), 12)
              ELSE round((1.0 - 0.85) / nn.n + 0.85 * lk{i}.lk, 12)
         END AS rank
  FROM nodes n LEFT JOIN s{i} s ON s.node = n.node
  CROSS JOIN nn CROSS JOIN lk{i}
)""")
    return (
        head
        + "".join(steps)
        + f"\nSELECT node, round(rank, 8) AS rank FROM r{iters}"
    )


def _pagerank_oracle(iters: int = 5) -> str:
    """Unrolled ``iters``-stage power iteration; every float step mirrors
    operators/graph.py:pagerank (round/14 → decimal sum → ×0.85 +
    (1-0.85)/N → round/12)."""
    head = """
WITH e AS (
  SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_suppkey <> b.l_suppkey
), deg AS (
  SELECT src, count(*) AS d FROM e GROUP BY src
), nn AS (
  SELECT count(*) AS n FROM deg
), r0 AS (
  SELECT src AS node, round(1.0 / nn.n, 12) AS rank FROM deg CROSS JOIN nn
)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f""", r{i} AS (
  SELECT e.dst AS node,
         round((1.0 - 0.85) / nn.n
               + 0.85 * CAST(sum(CAST(round(r.rank / deg.d, 14)
                                      AS DECIMAL(38,14))) AS DOUBLE),
               12) AS rank
  FROM e JOIN deg ON deg.src = e.src
  JOIN r{i - 1} r ON r.node = e.src
  CROSS JOIN nn
  GROUP BY e.dst, nn.n
)""")
    return (
        head
        + "".join(steps)
        + f"\nSELECT node, round(rank, 8) AS rank FROM r{iters}"
    )


def q_e9_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9/ER blocked fuzzy self-join (join_ops.fuzzy_join): candidates
    only from equality on (lang, n_chars//8) — an ordinary shuffled
    equi-join — verified by levenshtein on a 60-char prefix.  Cost is
    Σ block², bounded by blocking-key design, never all-pairs."""
    docs = _docs(spark, sf_dir)
    block = [
        (F.col("lang"), F.col("lang")),
        (F.floor(F.col("n_chars") / 8), F.floor(F.col("n_chars") / 8)),
    ]
    return join_ops.fuzzy_join(
        docs, docs, "doc_id", "doc_id", "text", "text",
        block_on=block, max_distance=10, prefix_len=60,
    )


_E9_FUZZY_ORACLE = """
WITH d AS (
  SELECT doc_id, lang, n_chars // 8 AS bkt, substring(text, 1, 60) AS p
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.p, b.p) AS INTEGER) AS lev_dist
FROM d a JOIN d b ON a.lang = b.lang AND a.bkt = b.bkt AND a.doc_id < b.doc_id
WHERE levenshtein(a.p, b.p) <= 10
"""


def q_e9_fuzzy_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-bounded variant of ``q_e9_fuzzy_join``
    (join_ops.fuzzy_join_topk): same blocking + levenshtein verify, then
    each left entity keeps its 3 best matches via the rank-window
    pattern (row_number over (lev_dist, id_b)).  VERDICT r7 item 6: the
    sf1 probe showed the unbounded match set explode ×6,718 on
    clone-heavy data — the capped form is what a real ER user runs
    first.  The existing unbounded query is unchanged."""
    docs = _docs(spark, sf_dir)
    block = [
        (F.col("lang"), F.col("lang")),
        (F.floor(F.col("n_chars") / 8), F.floor(F.col("n_chars") / 8)),
    ]
    return join_ops.fuzzy_join_topk(
        docs, docs, "doc_id", "doc_id", "text", "text",
        block_on=block, k=3, max_distance=10, prefix_len=60,
    )


_E9_FUZZY_TOPK_ORACLE = """
WITH d AS (
  SELECT doc_id, lang, n_chars // 8 AS bkt, substring(text, 1, 60) AS p
  FROM documents
), m AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(levenshtein(a.p, b.p) AS INTEGER) AS lev_dist
  FROM d a JOIN d b ON a.lang = b.lang AND a.bkt = b.bkt AND a.doc_id < b.doc_id
  WHERE levenshtein(a.p, b.p) <= 10
)
SELECT id_a, id_b, lev_dist, CAST(rn AS INTEGER) AS match_rank
FROM (
  SELECT m.*, row_number() OVER (
           PARTITION BY id_a ORDER BY lev_dist, id_b) AS rn
  FROM m
)
WHERE rn <= 3
"""


def q_f10_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F/LM collocation mining (lm_ops.pmi_collocations): PMI over
    adjacent-token bigrams vs unigram expectations — in-array bigram
    build (no pre-count explode), one (w1,w2) count shuffle, two
    shuffled unigram joins, total-N as a one-row broadcast; integer
    counts make the rounded ln engine-portable."""
    from dataengineer_spark.operators import lm as lm_ops

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return lm_ops.pmi_collocations(docs, min_count=5)


_F10_PMI_ORACLE = r"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(
           regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') AS arr
  FROM documents
), toks0 AS (
  SELECT doc_id, unnest(arr) AS w, generate_subscripts(arr, 1) AS ord FROM d
), toks AS (
  SELECT * FROM toks0 WHERE length(w) > 0
), big AS (
  SELECT a.doc_id, a.w AS w1, b.w AS w2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
), pc AS (
  SELECT w1, w2, count(*) AS pair_n FROM big GROUP BY w1, w2
), uni AS (
  SELECT w, count(*) AS c FROM toks GROUP BY w
), tot AS (
  SELECT CAST(sum(pair_n) AS DOUBLE) AS n FROM pc
)
SELECT pc.w1, pc.w2, pc.pair_n,
       round(ln(CAST(pc.pair_n AS DOUBLE) * tot.n
                / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))), 6) AS pmi
FROM pc
JOIN uni u1 ON u1.w = pc.w1
JOIN uni u2 ON u2.w = pc.w2
CROSS JOIN tot
WHERE pc.pair_n >= 5
"""


def q_e5_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 grouped OLS (agg_ops.group_ols): per-returnflag slope /
    intercept / R² of extendedprice on quantity, closed-form from exact
    decimal moment sums — one partial-combined hash aggregate, closing
    formulas on per-group scalars (F.regr_* would accumulate partition-
    order-dependent doubles)."""
    # fan_out + project (round-11): same decimal-moment-sum shape and
    # single-partition-scan fix as q_e5_corr_stats
    li = fan_out(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_quantity", "l_extendedprice"
        )
    )
    return agg_ops.group_ols(li, ["l_returnflag"], "l_quantity", "l_extendedprice")


_E5_REGRESSION_ORACLE = """
WITH m AS (
  SELECT l_returnflag, count(*) AS n,
    CAST(sum(CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS sx,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS sy,
    CAST(sum(CAST(l_quantity AS DECIMAL(19,6))
             * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS sxy,
    CAST(sum(CAST(l_quantity AS DECIMAL(19,6))
             * CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS sxx,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(19,6))
             * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
  round(CASE WHEN (sxx - sx*sx/n) > 0
             THEN (sxy - sx*sy/n) / (sxx - sx*sx/n) END, 6) AS slope,
  round((sy - CASE WHEN (sxx - sx*sx/n) > 0
                   THEN (sxy - sx*sy/n) / (sxx - sx*sx/n) END * sx) / n, 6)
    AS intercept,
  round(CASE WHEN (sxx - sx*sx/n) > 0 AND (syy - sy*sy/n) > 0
             THEN (sxy - sx*sy/n) * (sxy - sx*sy/n)
                  / ((sxx - sx*sx/n) * (syy - sy*sy/n)) END, 6) AS r2
FROM m
"""


def q_e5_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 RFM segmentation: per-customer recency/frequency/monetary from
    one orders aggregate, then quintile scores via
    preparation.equal_frequency_bin — distinct-VALUE cumulative counts
    instead of a global-row ntile, so ties land in one bin and the only
    serial axis is value cardinality.  R score inverts (recent = 5)."""
    from dataengineer_spark.operators.preparation import equal_frequency_bin

    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.count("*").alias("frequency"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
        ).alias("monetary"),
        F.max(F.to_date("o_orderdate")).alias("_last"),
    )
    ref = orders.agg(F.max(F.to_date("o_orderdate")).alias("_ref"))
    m = cust.crossJoin(F.broadcast(ref)).select(
        "o_custkey", "frequency", "monetary",
        F.datediff("_ref", "_last").alias("recency_days"),
    ).persist()  # three bin passes each re-scan m (counts + total + join
    # back): without the cache every pass re-plans the orders aggregate
    # and the plan balloons to ~92 exchanges (VERDICT r4 item 3)
    b = equal_frequency_bin(m, "recency_days", 5, "_r_raw")
    b = equal_frequency_bin(b, "frequency", 5, "f_score")
    b = equal_frequency_bin(b, "monetary", 5, "m_score")
    return b.select(
        "o_custkey", "recency_days", "frequency", "monetary",
        (F.lit(6) - F.col("_r_raw")).cast("int").alias("r_score"),
        "f_score", "m_score",
        F.concat(
            (F.lit(6) - F.col("_r_raw")).cast("int").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("segment"),
    )


_E5_RFM_ORACLE = """
WITH cust AS (
  SELECT o_custkey, count(*) AS frequency,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
           AS monetary,
         max(CAST(o_orderdate AS DATE)) AS last_d
  FROM orders GROUP BY o_custkey
), ref AS (SELECT max(CAST(o_orderdate AS DATE)) AS ref_d FROM orders),
m AS (
  SELECT o_custkey, frequency, monetary,
         CAST(datediff('day', last_d, ref.ref_d) AS INTEGER) AS recency_days
  FROM cust CROSS JOIN ref
),
rc AS (SELECT recency_days AS v, count(*) AS c FROM m GROUP BY 1),
rbin AS (SELECT v, CAST(floor(5 * coalesce(sum(c) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          / (SELECT sum(c) FROM rc)) + 1 AS INTEGER) AS b FROM rc),
fc AS (SELECT frequency AS v, count(*) AS c FROM m GROUP BY 1),
fbin AS (SELECT v, CAST(floor(5 * coalesce(sum(c) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          / (SELECT sum(c) FROM fc)) + 1 AS INTEGER) AS b FROM fc),
mc AS (SELECT monetary AS v, count(*) AS c FROM m GROUP BY 1),
mbin AS (SELECT v, CAST(floor(5 * coalesce(sum(c) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          / (SELECT sum(c) FROM mc)) + 1 AS INTEGER) AS b FROM mc)
SELECT m.o_custkey, m.recency_days, m.frequency, m.monetary,
       CAST(6 - rbin.b AS INTEGER) AS r_score,
       fbin.b AS f_score, mbin.b AS m_score,
       CAST(6 - rbin.b AS VARCHAR) || CAST(fbin.b AS VARCHAR)
         || CAST(mbin.b AS VARCHAR) AS segment
FROM m
JOIN rbin ON rbin.v = m.recency_days
JOIN fbin ON fbin.v = m.frequency
JOIN mbin ON mbin.v = m.monetary
"""


def q_rank_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking fusion (ranking.rrf_fuse): reciprocal-rank fusion of two
    heterogeneous per-language rankers (quality score, length) — rank
    windows partition by lang (never global), fusion is a fan-in join +
    map-side 1/(k+rank) sum with integer ranks, portable bit-for-bit."""
    from pyspark.sql import Window as W

    from dataengineer_spark.operators import ranking

    docs = _docs(spark, sf_dir)
    q = docs.select(
        "doc_id", "lang", "n_chars",
        F.round(textops.quality_score(F.col("text")), 6).alias("quality"),
    )
    wa = W.partitionBy("lang").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    wb = W.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    ra = q.select("lang", "doc_id", F.row_number().over(wa).alias("ra"))
    rb = q.select("lang", "doc_id", F.row_number().over(wb).alias("rb"))
    return ranking.rrf_fuse([(ra, "ra"), (rb, "rb")], ["lang", "doc_id"], k=60)


_RANK_RRF_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, n_chars, length(text) AS n,
         CASE WHEN length(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) = 0 THEN 0
              ELSE len(regexp_split_to_array(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END AS toks,
         length(regexp_replace(text, '{textops.PUNCT_NEGATED}', '', 'g')) AS punct,
         len(regexp_split_to_array(lower(text),
             '\\b(?:the|and|of|to|a|in|is|it)\\b')) - 1 AS stop_hits
  FROM documents
), q AS (
  SELECT doc_id, lang, n_chars, round((
      (CASE WHEN n >= 100 AND n <= 20000 THEN 1.0 WHEN n > 0 THEN 0.5 ELSE 0.0 END)
    + (CASE WHEN n = 0 THEN 0.0 WHEN punct / n < 0.1 THEN 1.0 ELSE 0.5 END)
    + (CASE WHEN toks = 0 THEN 0.0 WHEN stop_hits / toks > 0.05 THEN 1.0 ELSE 0.5 END)
  ) / 3.0, 6) AS quality
  FROM t
), ra AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS r
  FROM q
), rb AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS r
  FROM q
)
SELECT ra.lang, ra.doc_id,
       round(1.0 / (60 + ra.r) + 1.0 / (60 + rb.r), 6) AS rrf_score
FROM ra JOIN rb ON ra.lang = rb.lang AND ra.doc_id = rb.doc_id
"""


def q_e3_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 embedding-space profile (sim_ops.embedding_dim_stats): per-
    dimension n/mean/stddev/min/max — the standardization FIT step and
    embedding-drift monitor.  Map-side posexplode, one partial-combined
    shuffle carrying (dim, moments), output bounded by vector width."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    return sim_ops.embedding_dim_stats(emb, "embedding", scale=6)


_E3_DIM_STATS_ORACLE = """
WITH e AS (
  SELECT unnest(embedding) AS x, generate_subscripts(embedding, 1) AS dim
  FROM embeddings
), d AS (
  SELECT CAST(dim AS INTEGER) AS dim,
         CAST(round(CAST(x AS DOUBLE), 6) AS DECIMAL(18,6)) AS xd
  FROM e
), m AS (
  SELECT dim, count(*) AS n,
         CAST(sum(xd) AS DOUBLE) AS s1,
         CAST(sum(xd * xd) AS DOUBLE) AS s2,
         CAST(min(xd) AS DOUBLE) AS min_x,
         CAST(max(xd) AS DOUBLE) AS max_x
  FROM d GROUP BY dim
)
SELECT dim, n, round(s1 / n, 6) AS mean,
       round(CASE WHEN (s2 - s1*s1/n) / (n - 1) > 0
                  THEN sqrt((s2 - s1*s1/n) / (n - 1)) ELSE 0.0 END, 6) AS stddev,
       min_x, max_x
FROM m
"""


def q_e4_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4/LM out-of-vocabulary rate (lm_ops.oov_rate): reference vocab =
    top-1000 unigrams of even-doc_id docs (TakeOrdered, count-desc with
    word tiebreak → deterministic); odd docs score token-level OOV via
    one broadcast vocab join — the domain-shift tripwire."""
    from dataengineer_spark.operators import lm as lm_ops

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    uni = (
        lm_ops.doc_token_arrays(docs.where(F.col("doc_id") % 2 == 0))
        .select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    vocab = uni.orderBy(F.col("c").desc(), F.col("w").asc()).limit(1000)
    return lm_ops.oov_rate(
        docs.where(F.col("doc_id") % 2 == 1), vocab, vocab_col="w"
    )


_E4_OOV_ORACLE = r"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(
           regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') AS arr
  FROM documents
), toks0 AS (
  SELECT doc_id, unnest(arr) AS w FROM d
), toks AS (
  SELECT * FROM toks0 WHERE length(w) > 0
), vocab AS (
  SELECT w FROM (
    SELECT w, count(*) AS c FROM toks WHERE doc_id % 2 = 0 GROUP BY w
  ) ORDER BY c DESC, w ASC LIMIT 1000
), scored AS (
  SELECT t.doc_id, t.w, CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
  FROM toks t LEFT JOIN vocab v ON v.w = t.w
  WHERE t.doc_id % 2 = 1
)
SELECT d0.doc_id, count(s.w) AS n_tokens,
       CAST(coalesce(sum(s.oov), 0) AS BIGINT) AS n_oov,
       round(CAST(coalesce(sum(s.oov), 0) AS DOUBLE)
             / nullif(count(s.w), 0), 6) AS oov_rate
FROM documents d0 LEFT JOIN scored s ON s.doc_id = d0.doc_id
WHERE d0.doc_id % 2 = 1
GROUP BY d0.doc_id
"""


def q_a5_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family model evaluation: confusion matrix of the n-gram langid
    vs the labeled language (agg_ops.confusion_matrix) — one hash agg on
    (pred, truth), output bounded by label-space²."""
    docs = _docs(spark, sf_dir)
    scored = docs.select(
        textops.language_id(F.col("text")).alias("detected"), "lang"
    )
    return agg_ops.confusion_matrix(scored, "detected", "lang")


def _confusion_oracle() -> str:
    inner = _langid_oracle()
    return f"""
WITH scored AS ({inner})
SELECT detected AS pred, lang AS truth, count(*) AS n
FROM scored GROUP BY 1, 2
"""


def q_a3_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family model evaluation: Cohen's κ of langid vs labeled lang
    (agg_ops.cohens_kappa) — chance-corrected agreement; everything past
    the one (pred, truth) hash aggregate runs on label-space²-sized
    frames, counts stay integral until two closing IEEE divisions."""
    docs = _docs(spark, sf_dir)
    scored = docs.select(
        textops.language_id(F.col("text")).alias("detected"), "lang"
    )
    return agg_ops.cohens_kappa(scored, "detected", "lang")


def _kappa_oracle() -> str:
    inner = _langid_oracle()
    return f"""
WITH scored AS ({inner}),
cm AS (
  SELECT detected AS pred, lang AS truth, count(*) AS n FROM scored GROUP BY 1, 2
), rt AS (SELECT pred, sum(n) AS r FROM cm GROUP BY pred),
ct AS (SELECT truth, sum(n) AS c FROM cm GROUP BY truth),
mg AS (
  SELECT coalesce(rt.r, 0) * coalesce(ct.c, 0) AS rc
  FROM rt FULL OUTER JOIN ct ON rt.pred = ct.truth
), ag AS (
  SELECT sum(n) AS nn,
         sum(CASE WHEN pred = truth THEN n ELSE 0 END) AS diag
  FROM cm
), ee AS (SELECT sum(rc) AS src FROM mg)
SELECT CAST(nn AS BIGINT) AS n,
       round(CAST(diag AS DOUBLE) / nn, 6) AS po,
       round(CAST(src AS DOUBLE) / (nn * nn), 6) AS pe,
       round((CAST(diag AS DOUBLE) / nn - CAST(src AS DOUBLE) / (nn * nn))
             / (1.0 - CAST(src AS DOUBLE) / (nn * nn)), 6) AS kappa
FROM ag CROSS JOIN ee
"""


def q_a4_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family model evaluation: reliability bins + per-bin Brier sums
    (agg_ops.calibration_report) over a deterministic pseudo-probability
    (first embedding component clamped to [-1,1], shifted to [0,1]);
    one hash aggregate, output bounded by n_bins, decimal-exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    e1 = F.element_at("embedding", 1).cast("double")
    p = (F.least(F.greatest(e1, F.lit(-1.0)), F.lit(1.0)) + 1.0) / 2.0
    scored = emb.select(p.alias("p"), "label")
    return agg_ops.calibration_report(scored, "p", F.col("label") >= 5, n_bins=10)


_A4_CALIBRATION_ORACLE = """
WITH s AS (
  SELECT round((least(greatest(CAST(embedding[1] AS DOUBLE), -1.0), 1.0)
                + 1.0) / 2.0, 6) AS p,
         CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
  FROM embeddings
), b AS (
  SELECT least(CAST(floor(p * 10) AS INTEGER), 9) AS bin,
         CAST(p AS DECIMAL(8,6)) AS pd, y
  FROM s
)
SELECT bin, count(*) AS n,
       round(CAST(sum(pd) AS DOUBLE) / count(*), 6) AS mean_p,
       round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS frac_pos,
       round(CAST(sum((pd - CAST(y AS DECIMAL(8,6)))
                      * (pd - CAST(y AS DECIMAL(8,6)))) AS DOUBLE), 6) AS brier
FROM b GROUP BY bin
"""


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics (graph.triangle_stats): triangle census +
    clustering coefficient of the part co-purchase graph (parts sharing
    an order, canonical src<dst) — ordered-wedge join + closing-edge
    semi join, intermediate bounded by ordered wedges, all counts
    integral.  Edge build: per-order collect_set + pair explode
    (_cooccurrence_edges), same as q_graph_pagerank."""
    from dataengineer_spark.operators import graph as graph_ops

    edges = _cooccurrence_edges(spark, sf_dir, "l_partkey", canonical=True)
    return graph_ops.triangle_stats(edges)


_GRAPH_TRIANGLES_ORACLE = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
), deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT s AS node FROM e UNION ALL SELECT t AS node FROM e
  ) GROUP BY node
), c1 AS (
  SELECT count(*) AS n_nodes,
         -- integer halving (d*(d-1) is even) — matches the engine's
         -- shiftright, exact past 2^53 where double division isn't
         CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS n_wedges
  FROM deg
), c2 AS (SELECT count(*) AS n_edges FROM e),
w AS (
  SELECT e1.s AS x, e2.t AS z FROM e e1 JOIN e e2 ON e1.t = e2.s
), c3 AS (
  SELECT count(*) AS n_triangles FROM w
  WHERE EXISTS (SELECT 1 FROM e WHERE e.s = w.x AND e.t = w.z)
)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       round(CASE WHEN n_wedges > 0
                  THEN 3.0 * n_triangles / n_wedges ELSE 0.0 END, 6)
         AS clustering_coeff
FROM c1 CROSS JOIN c2 CROSS JOIN c3
"""


def q_dq_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ diagnostics (quality.key_skew_report): the top-20 heaviest
    supplier keys of lineitem with share / cumulative share — the table
    read before choosing salting vs AQE skew handling; per-key hash agg
    + TakeOrdered top-N, totals as a one-row broadcast."""
    from dataengineer_spark.operators import quality

    li = load_table(spark, sf_dir, "lineitem")
    return quality.key_skew_report(li, ["l_suppkey"], top_n=20)


_DQ_SKEW_ORACLE = """
WITH c AS (
  SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY l_suppkey
), tot AS (SELECT sum(n) AS t FROM c),
top AS (
  SELECT l_suppkey, n FROM c ORDER BY n DESC, l_suppkey LIMIT 20
)
SELECT CAST(row_number() OVER (ORDER BY n DESC, l_suppkey) AS INTEGER) AS rank,
       l_suppkey, n,
       round(CAST(n AS DOUBLE) / t, 6) AS share,
       round(CAST(sum(n) OVER (ORDER BY n DESC, l_suppkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) / t, 6) AS cum_share
FROM top CROSS JOIN tot
"""


def q_e10_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10 period-over-period report (event_ops.period_over_period):
    per-event-type daily decimal-exact totals, compared against the
    same weekday one week back via a calendar equi-join (never a row
    lag — gaps can't misalign); first-week days emit NULL change."""
    ev = load_table(spark, sf_dir, "events")
    out = event_ops.period_over_period(
        ev, ["event_type"], "ts", "value", period_days=7, scale=2
    )
    return out.withColumn("day", F.col("day").cast("timestamp"))


_E10_WOW_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         round(CAST(sum(CAST(round(value, 6) AS DECIMAL(27,6))) AS DOUBLE), 2)
           AS total
  FROM events GROUP BY 1, 2
)
SELECT d.event_type, CAST(d.day AS TIMESTAMP) AS day, d.total,
       p.total AS prev_total,
       -- engine emits NULL pct when the prior total is exactly 0
       -- (undefined change; ANSI division would hard-fail there)
       round(CASE WHEN p.total <> 0
             THEN (d.total - p.total) / p.total END, 6) AS pct_change
FROM daily d LEFT JOIN daily p
  ON p.event_type = d.event_type AND p.day + INTERVAL 7 DAY = CAST(d.day AS TIMESTAMP)
"""


#: Fellegi–Sunter (m, u) agreement probabilities per compared field —
#: shared between the Spark query and the oracle so the log2 weights are
#: the same Python-computed double literals on both sides
_LINKAGE_FIELDS = [
    ("same_source", 0.7, 0.05),
    ("close_len", 0.9, 0.3),
    ("close_text", 0.85, 0.02),
]


def q_e9_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9/ER probabilistic record linkage (join_ops.linkage_score):
    candidates from the (lang, n_chars//8) block join, scored by three
    Fellegi–Sunter field agreements (source match, length proximity,
    prefix edit distance) — map-only CASE chain over fixed log2-weight
    literals after the blocked candidate join."""
    docs = _docs(spark, sf_dir)
    d = docs.select(
        "doc_id", "lang", "source", "n_chars",
        F.substring("text", 1, 40).alias("_p"),
        F.floor(F.col("n_chars") / 8).alias("_bkt"),
    )
    pairs = (
        d.alias("a")
        .join(d.alias("b"), ["lang", "_bkt"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            (F.col("a.source") == F.col("b.source")).alias("same_source"),
            (
                F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 5
            ).alias("close_len"),
            (
                F.levenshtein(F.col("a._p"), F.col("b._p")) <= 10
            ).alias("close_text"),
        )
    )
    agreements = [
        (F.col(name), m, u) for name, m, u in _LINKAGE_FIELDS
    ]
    return join_ops.linkage_score(pairs, agreements, threshold=2.0).select(
        "id_a", "id_b", "link_score", "is_match"
    )


def _linkage_oracle() -> str:
    import math

    cases = []
    preds = {
        "same_source": "a.source = b.source",
        "close_len": "abs(a.n_chars - b.n_chars) <= 5",
        "close_text": "levenshtein(a.p, b.p) <= 10",
    }
    for name, m, u in _LINKAGE_FIELDS:
        w_a = repr(math.log2(m / u))
        w_d = repr(math.log2((1.0 - m) / (1.0 - u)))
        # NULL comparison → 0 (missing-data convention, engine parity)
        cases.append(
            f"(CASE WHEN {preds[name]} THEN {w_a} "
            f"WHEN NOT ({preds[name]}) THEN {w_d} ELSE 0.0 END)"
        )
    score = " + ".join(cases)
    return f"""
WITH d AS (
  SELECT doc_id, lang, source, n_chars, substring(text, 1, 40) AS p,
         n_chars // 8 AS bkt
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round({score}, 6) AS link_score,
       round({score}, 6) >= 2.0 AS is_match
FROM d a JOIN d b
  ON a.lang = b.lang AND a.bkt = b.bkt AND a.doc_id < b.doc_id
"""


def q_e2_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 EXACT set-similarity self-join (dedup.setsim_join): PPJoin
    prefix filtering — candidates only where the rarest-token prefixes
    collide, then exact |∩|/|∪| verification on the full sorted token
    arrays.  The deterministic complement to the MinHash estimate."""
    docs = _docs(spark, sf_dir)
    return dedup_ops.setsim_join(
        docs, "text", "doc_id", threshold=0.6, shingle_size=5
    )


_E2_SETSIM_ORACLE = r"""
WITH base AS (
  SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(length(text) - 4, 1)),
           i -> substr(text, CAST(i AS INT), 5))) AS ws
  FROM documents
), tk AS (
  SELECT doc_id, unnest(ws) AS w FROM base
), tkf AS (
  SELECT * FROM tk WHERE length(w) > 0
), fr AS (
  SELECT w, count(*) AS c FROM tkf GROUP BY w
), ar AS (
  SELECT doc_id, array_agg(tkf.w ORDER BY fr.c, tkf.w) AS toks,
         count(*) AS n
  FROM tkf JOIN fr ON fr.w = tkf.w GROUP BY doc_id
), px0 AS (
  SELECT doc_id, n,
         toks[1 : CAST(n - ceil(0.6 * n - 1e-9) + 1 AS BIGINT)] AS pf
  FROM ar
), px AS (
  SELECT doc_id, n, unnest(pf) AS w, generate_subscripts(pf, 1) AS p
  FROM px0
), cand AS (
  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
  FROM px a JOIN px b ON a.w = b.w AND a.doc_id < b.doc_id
    AND a.n >= 0.6 * b.n - 1e-9 AND b.n >= 0.6 * a.n - 1e-9
    AND least(a.n - a.p, b.n - b.p) + 1
        >= ceil(0.37499999999999994 * (a.n + b.n) - 1e-9)
), inter AS (
  -- |∩| via a token equi-join on the (per-doc-distinct) shingle rows:
  -- list_intersect over the full toks arrays re-inlined ar twice and was
  -- the whole oracle's cost (14 s at sf0.01 → 2 s this way); pairs with
  -- zero common tokens drop out of the inner join, but their jaccard is
  -- 0 < threshold so the result set is identical
  SELECT c.ia, c.ib, count(*) AS inter
  FROM cand c
  JOIN tkf x ON x.doc_id = c.ia
  JOIN tkf y ON y.doc_id = c.ib AND y.w = x.w
  GROUP BY c.ia, c.ib
), nn AS (
  SELECT doc_id, count(*) AS n FROM tkf GROUP BY doc_id
)
SELECT i.ia AS id_a, i.ib AS id_b,
       round(CAST(i.inter AS DOUBLE) / (a.n + b.n - i.inter), 6) AS jaccard
FROM inter i JOIN nn a ON a.doc_id = i.ia JOIN nn b ON b.doc_id = i.ib
WHERE CAST(i.inter AS DOUBLE) / (a.n + b.n - i.inter) >= 0.6
"""


def q_f11_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health diagnostic: Zipf's-law fit — OLS slope of
    ln(frequency) on ln(rank) over the top-100 words (composition:
    preparation.word_counts → TakeOrdered top-N → rank window over 100
    rows → agg_ops.group_ols exact-moment regression).  Natural text
    slopes near -1; templated/synthetic corpora flatten.  The only
    non-distributed step is the 100-row rank window."""
    from pyspark.sql import Window as W

    from dataengineer_spark.operators.preparation import explode_words

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    counts = (
        explode_words(docs, "text")
        .groupBy("word")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("word").asc())
        .limit(100)
    )
    ranked = counts.select(
        F.log(
            F.row_number()
            .over(W.orderBy(F.col("c").desc(), F.col("word").asc()))
            .cast("double")
        ).alias("ln_rank"),
        F.log(F.col("c").cast("double")).alias("ln_freq"),
    )
    return agg_ops.group_ols(ranked, [], "ln_rank", "ln_freq")


def _zipf_oracle() -> str:
    # replicate preparation.explode_words tokenization (lower, trim,
    # split \s+, drop empties) + the regression oracle's moment frame
    return r"""
WITH w0 AS (
  SELECT unnest(regexp_split_to_array(
           regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+')) AS word
  FROM documents
), top AS (
  SELECT word, count(*) AS c FROM w0 GROUP BY word
  ORDER BY c DESC, word ASC LIMIT 100
), ranked AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, word ASC) AS DOUBLE))
           AS x,
         ln(CAST(c AS DOUBLE)) AS y
  FROM top
), m AS (
  SELECT count(*) AS n,
    CAST(sum(CAST(x AS DECIMAL(19,6))) AS DOUBLE) AS sx,
    CAST(sum(CAST(y AS DECIMAL(19,6))) AS DOUBLE) AS sy,
    CAST(sum(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS DOUBLE) AS sxy,
    CAST(sum(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))) AS DOUBLE) AS sxx,
    CAST(sum(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))) AS DOUBLE) AS syy
  FROM ranked
)
SELECT n,
  round(CASE WHEN (sxx - sx*sx/n) > 0
             THEN (sxy - sx*sy/n) / (sxx - sx*sx/n) END, 6) AS slope,
  round((sy - CASE WHEN (sxx - sx*sx/n) > 0
                   THEN (sxy - sx*sy/n) / (sxx - sx*sx/n) END * sx) / n, 6)
    AS intercept,
  round(CASE WHEN (sxx - sx*sx/n) > 0 AND (syy - sy*sy/n) > 0
             THEN (sxy - sx*sy/n) * (sxy - sx*sy/n)
                  / ((sxx - sx*sx/n) * (syy - sy*sy/n)) END, 6) AS r2
FROM m
"""


def q_k7_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-family incremental view maintenance (catalog.merge_aggregate):
    per-customer order counts and decimal spend folded in from THREE
    successive delta batches of mergeable partials — refresh cost
    follows each delta, the raw facts are never re-scanned, and
    associative decimal sums make the final state identical to a full
    recompute (which is exactly what the oracle runs)."""
    from dataengineer_spark.catalog import Catalog

    orders = load_table(spark, sf_dir, "orders")
    cat = Catalog(spark, tempfile.mkdtemp(prefix="spark_graft_incragg_"))
    for i in range(3):
        delta = (
            orders.where(F.col("o_orderkey") % 3 == i)
            .groupBy("o_custkey")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"),
            )
        )
        cat.merge_aggregate(
            delta, "cust_aggs", ["o_custkey"], ["n_orders", "total"]
        )
    state = cat.read("cust_aggs")
    return state.select(
        "o_custkey",
        "n_orders",
        F.round(F.col("total").cast("double"), 2).alias("total"),
    )


_K7_INCRAGG_ORACLE = """
SELECT o_custkey, count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS total
FROM orders GROUP BY o_custkey
"""


def q_k8_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-family training-data export (preparation.shard_export): the
    curated corpus lands as 16 hash-sharded parquet directories — one
    repartition shuffle, one file per shard, partitionBy for shard-pruned
    reads — and the returned manifest (per-shard docs / whitespace
    tokens / utf-8 bytes) aggregates from a READ-BACK of the written
    lake.  ORACLED: the portable poly shard hash and both count
    conventions replay in DuckDB, so the manifest — proof of what the
    sink wrote — hash-matches."""
    from dataengineer_spark.operators.preparation import shard_export

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    path = tempfile.mkdtemp(prefix="spark_graft_shards_") + "/corpus"
    return shard_export(docs, path, n_shards=16, portable_hash=True)


_K8_SHARD_EXPORT_ORACLE = rf"""
WITH s AS (
  SELECT doc_id, text,
    {_duck_poly("CAST(doc_id AS VARCHAR)")} % 16 AS shard
  FROM documents
)
SELECT CAST(shard AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0
            THEN 0
            ELSE len(regexp_split_to_array(
                   regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END)
         AS BIGINT) AS n_tokens,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes
FROM s GROUP BY shard
"""


def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics (graph.bfs_distances): multi-source BFS out to 3
    hops over the part co-purchase graph, seeds = partkeys divisible by
    97 — frontier join + visited anti-join per level, all-integer
    levels, lazily chained like pagerank.  Edge build: per-order
    collect_set + pair explode (_cooccurrence_edges), same as
    q_graph_pagerank."""
    from dataengineer_spark.operators import graph as graph_ops
    from dataengineer_spark.tuning import lineage_cut

    # the seeds branch is a second consumer of the edge build — without
    # the cut it re-executed the whole collect_set + pair explode
    # (~1.5 s at sf0.1, round-12 decomposition); one lazy cut feeds both
    edges = lineage_cut(
        _cooccurrence_edges(spark, sf_dir, "l_partkey"),
        eager=False,
        serialized=True,  # edge-list-sized
    )
    seeds = edges.select("src").where(F.col("src") % 97 == 0).distinct()
    return graph_ops.bfs_distances(edges, seeds, max_depth=3)


def q_graph_bfs_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE BFS frontier-expansion level (graph.bfs_level_plan) on the
    same co-purchase graph and seeds as q_graph_bfs — the loop's stable
    sub-shape, registered so the plan gate can PIN the frontier join
    strategy (VERDICT r10 item 6: the full BFS is loop-built over
    lineage cuts, not pinnable; the shuffle-hash frontier hint that cut
    the sf10 wall 217→104 s must not silently rot).  Pure plan build —
    no cuts, no jobs — and SQL-expressible, so it is oracled too."""
    from dataengineer_spark.operators import graph as graph_ops

    edges = _cooccurrence_edges(spark, sf_dir, "l_partkey")
    seeds = (
        edges.select(F.col("src").alias("node"))
        .where(F.col("node") % 97 == 0)
        .distinct()
    )
    visited = seeds.select("node", F.lit(0).alias("dist"))
    return graph_ops.bfs_level_plan(edges, seeds, visited, depth=1)


_GRAPH_BFS_LEVEL_ORACLE = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
), seeds AS (
  SELECT DISTINCT src AS node FROM e WHERE src % 97 = 0
)
SELECT DISTINCT e.dst AS node, CAST(1 AS INTEGER) AS dist
FROM e JOIN seeds ON e.src = seeds.node
WHERE e.dst NOT IN (SELECT node FROM seeds)
"""


def _bfs_oracle() -> str:
    head = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
), d0 AS (
  SELECT DISTINCT s AS node FROM e WHERE s % 97 = 0
)"""
    prev_sets = ["d0"]
    steps = []
    for depth in range(1, 4):
        visited = " UNION ALL ".join(
            f"SELECT node FROM {p}" for p in prev_sets
        )
        steps.append(f""", n{depth} AS (
  SELECT DISTINCT e.t AS node
  FROM e JOIN {prev_sets[-1]} f ON e.s = f.node
  WHERE e.t NOT IN ({visited})
)""")
        prev_sets.append(f"n{depth}")
    selects = ["SELECT node, 0 AS dist FROM d0"] + [
        f"SELECT node, {d} AS dist FROM n{d}" for d in range(1, 4)
    ]
    return head + "".join(steps) + "\n" + "\nUNION ALL\n".join(selects)


def q_e10_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sess = event_ops.sessionize_lag(
        ev, "ts", 1800, ["user_id"], tiebreakers=["event_id"]
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


_E10_SESSION_ORACLE = """
WITH x AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), y AS (
  SELECT user_id, ts,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM x
)
SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM y GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# E1–E4: dedup / similarity / text analysis (north-star extensions)
# ---------------------------------------------------------------------------


def q_e1_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 content dedup.  Deliberately NO fan_out here (VERDICT r4 item
    4: the r2 switch to _docs caused a 0.49→0.97 s creep): content_dedup
    is one full-text shuffle on the content hash, and that shuffle
    already redistributes the single-row-group local scan across all
    cores — a pre-repartition would shuffle the text a second time for
    nothing.  fan_out is for CPU-bound MAP stages, not one-shuffle
    aggregations (tuning.py contract)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.content_dedup(docs, "text", "doc_id").select("doc_id", "lang")


_E1_ORACLE = """
SELECT d.doc_id, d.lang FROM documents d
JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text) m
  ON d.doc_id = m.doc_id
"""


def q_e1_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", "source")
    return dedup_ops.exact_dedup(docs)


_E1_DISTINCT_ORACLE = "SELECT DISTINCT lang, source FROM documents"


def q_e1_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1+O6 — per-batch dedup against previously-ingested content: the
    'new' batch contains 100 re-crawled documents (same text, new ids)
    plus genuinely new ones; the anti join on content fingerprint drops
    exactly the re-crawls."""
    docs = load_table(spark, sf_dir, "documents")
    seen = docs.where(F.col("doc_id") < 250)
    recrawl = seen.where(F.col("doc_id") < 100).withColumn(
        "doc_id", F.col("doc_id") + 1000
    )
    new_batch = docs.where(F.col("doc_id") >= 250).unionByName(recrawl)
    out = dedup_ops.incremental_dedup(new_batch, seen.select("text"), "text")
    return out.select("doc_id", "lang")


_E1_INCR_ORACLE = """
WITH seen AS (SELECT text FROM documents WHERE doc_id < 250),
     newb AS (
       SELECT doc_id + 1000 AS doc_id, text, lang FROM documents WHERE doc_id < 100
       UNION ALL
       SELECT doc_id, text, lang FROM documents WHERE doc_id >= 250
     )
SELECT doc_id, lang FROM newb n
WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.text = n.text)
"""


def q_e2_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only on purpose: MinHash+LSH near-dup pairs, xxhash64 family.

    perfbench's ``text_dedup`` workload checks this query by the pair
    count its seeded inputs plant, and switches to an ``oracle_sql()``
    entry when one exists — an oracle here would change the benchmark's
    check (tests/test_entry.py pins that it has none).  Verification
    chain: ``q_e2_minhash_portable`` runs the identical
    shingle→signature→band→verify pipeline with the portable hash family
    and hash-matches a DuckDB oracle, and ``q_e2_neardup_dedup`` /
    ``q_prep_decontaminate`` replay this family's hashes in DuckDB."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 1000)
    return dedup_ops.minhash_lsh_pairs(
        docs, "doc_id", "text", shingle_size=5, num_hashes=32, bands=4, threshold=0.5
    )


def q_e2_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH banding with the engine-portable polynomial shingle
    hash and raw signature-tuple band keys — every stage (shingle → 32-min
    signature → band buckets → candidate join → exact-Jaccard verify) is
    replicated bit-for-bit by the DuckDB oracle, so the LSH pipeline
    itself is hash-verified, not just row-counted.  xxhash64 twin
    (q_e2_minhash_neardup) is the scale default with the identical plan."""
    from dataengineer_spark.tuning import carry_lifetime

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 1000)
    out = dedup_ops.minhash_lsh_pairs(
        docs, "doc_id", "text", shingle_size=5, num_hashes=32, bands=4,
        threshold=0.5, family="portable",
    )
    # the wrapper select outlives `out` — move the candidate-cache tie
    # onto it or the transient persist unpersists before the action
    return carry_lifetime(
        out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")),
        out,
    )


def _minhash_cte_prefix(
    d_body: str, bands: int = 4, family: str = "portable"
) -> str:
    """Shared WITH-prefix for the MinHash self-join oracles — corpus CTE
    ``d`` → ``_duck_minhash`` band keys → distinct candidate pairs
    ``cand`` (the bipartite twin is _lsh_join_oracle)."""
    return f"""d AS (
  {d_body}
), {_duck_minhash("banded", "d", "doc_id", 32, bands, family)}, cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)"""


def _minhash_portable_oracle() -> str:
    prefix = _minhash_cte_prefix(
        "SELECT doc_id, text FROM documents WHERE doc_id < 1000"
    )
    return f"""
WITH {prefix}, shset AS (
  SELECT doc_id, {_duck_shingles(5)} AS ss FROM d
), verified AS (
  SELECT c.id_a, c.id_b, {_duck_jaccard("sa.ss", "sb.ss")} AS jaccard
  FROM cand c
  JOIN shset sa ON sa.doc_id = c.id_a
  JOIN shset sb ON sb.doc_id = c.id_b
)
SELECT id_a, id_b, round(jaccard, 6) AS jaccard
FROM verified WHERE jaccard >= 0.5
"""


def _lsh_join_oracle(
    c_sql: str, b_sql: str, threshold: float = 0.5, family: str = "portable"
) -> str:
    """Bipartite MinHash-LSH join as DuckDB SQL, parametrized by the two
    side CTE bodies (columns ``corpus_id, text`` / ``bench_id, text``)
    and the hash ``family`` — shared by the decontamination audit and
    the train/eval split-leakage audit so both replay the identical
    signature/band/verify arithmetic."""
    return f"""
WITH c AS (
  {c_sql}
), bn AS (
  {b_sql}
), {_duck_minhash("banded_c", "c", "corpus_id", 32, 8, family)},
{_duck_minhash("banded_b", "bn", "bench_id", 32, 8, family)}, cand AS (
  SELECT DISTINCT a.corpus_id, b.bench_id
  FROM banded_c a JOIN banded_b b
    ON a.band = b.band AND a.bucket = b.bucket
), set_c AS (
  SELECT corpus_id, {_duck_shingles(5)} AS ss FROM c
), set_b AS (
  SELECT bench_id, {_duck_shingles(5)} AS ss FROM bn
), verified AS (
  SELECT cand.corpus_id, cand.bench_id,
    {_duck_jaccard("sa.ss", "sb.ss")} AS jaccard
  FROM cand
  JOIN set_c sa ON sa.corpus_id = cand.corpus_id
  JOIN set_b sb ON sb.bench_id = cand.bench_id
)
SELECT corpus_id, bench_id, round(jaccard, 6) AS jaccard
FROM verified WHERE jaccard >= {threshold}
"""


def q_prep_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16+E2 train/eval split-leakage audit: after a hash split of a
    corpus CONTAINING NEAR-DUPLICATES (re-crawled copies under fresh ids
    — every 10th doc), holdout documents that are near-dups of a TRAIN
    document are leakage: the eval set silently measures memorization,
    not generalization.  A per-document split can never see this — the
    audit is the bipartite MinHash-LSH join between the two splits
    (train side stays put, dimension-sized holdout side broadcasts),
    exactly the decontamination plan pointed at the pipeline's own
    output.  Portable family → fully oracled."""
    from dataengineer_spark.operators.preparation import train_test_split

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    copies = docs.where(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(copies)
    split = train_test_split(corpus, "doc_id")
    train = split.where(F.col("split") == "train").select(
        F.col("doc_id").alias("corpus_id"), "text"
    )
    holdout = split.where(F.col("split") != "train").select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return dedup_ops.minhash_lsh_join(
        train, holdout, corpus_id="corpus_id", bench_id="bench_id",
        threshold=0.8, family="portable",
    )


def _split_leakage_oracle() -> str:
    """Replays the split assignment (hash_bucket: pmod-2^31 fold, Knuth
    multiply, mod 100) on the duplicated corpus, then the shared
    bipartite LSH SQL."""
    full = (
        "SELECT doc_id, text FROM documents UNION ALL "
        "SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 3"
    )
    bucket = "((doc_id % 2147483648) * 2654435761) % 100"
    return _lsh_join_oracle(
        f"SELECT doc_id AS corpus_id, text FROM ({full}) WHERE {bucket} < 80",
        f"SELECT doc_id AS bench_id, text FROM ({full}) WHERE {bucket} >= 80",
        threshold=0.8,
    )


def q_prep_decontaminate_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only: fuzzy decontamination with the Arrow/numpy signature
    path — vectorized rolling-hash windows + one broadcast affine min per
    doc replace the interpreted 32-wide Catalyst fold (~100x per core on
    signature-dominated corpora; see dedup.minhash_signatures_arrow).
    Same banding/verify plan as the oracled q_prep_decontaminate."""
    from dataengineer_spark.operators import dedup as dedup_ops3

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 50 == 7).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return dedup_ops3.minhash_lsh_join(
        docs, bench, threshold=0.5, family="arrow"
    )


def q_e2_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: xxhash64 word hashes → 64 bit-sums → 12-bit
    prefix bucket → in-bucket Hamming verify.  ORACLED: the DuckDB
    replay recomputes every word's xxhash64 (``_duck_xxhash64``), all 64
    bit-sums, the bucket and the Hamming distance."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 2000)
    return dedup_ops.simhash_neardup_pairs(
        docs, "doc_id", "text", max_hamming=8, prefix_bits=12
    )


def _simhash_oracle() -> str:
    n_bits, prefix_bits, max_hamming = 64, 12, 8
    # bit j: sign of the per-doc sum of ±1 contributions (``bit_get``)
    bit_cols = ",\n    ".join(
        f"CASE WHEN sum(CASE WHEN (h >> {j}) & 1 = 1"
        f" THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS b{j}"
        for j in range(n_bits)
    )
    bucket = " + ".join(
        f"b{63 - i} * {1 << (prefix_bits - 1 - i)}" for i in range(prefix_bits)
    )
    hamming = " + ".join(
        f"(CASE WHEN x.b{j} <> y.b{j} THEN 1 ELSE 0 END)" for j in range(n_bits)
    )
    return f"""
WITH d AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 2000
), w AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(
           regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) AS wd
  FROM d
), {_duck_xxhash64_cte("u", "wd", "w")}, h AS (
  SELECT doc_id, u.h FROM w JOIN u USING (wd)
), bits AS (
  SELECT doc_id,
    {bit_cols}
  FROM h GROUP BY doc_id
), bk AS (
  SELECT *, {bucket} AS bucket FROM bits
)
SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       CAST({hamming} AS INTEGER) AS hamming
FROM bk x JOIN bk y ON x.bucket = y.bucket AND x.doc_id < y.doc_id
WHERE {hamming} <= {max_hamming}
"""


def q_e2_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard pairs inside same-language buckets — ORACLED:
    shingling, the language-bucket self-join, and the set-overlap math
    are all plain expressions DuckDB replicates exactly."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 1000)
    out = dedup_ops.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.2, bucket_col=F.col("lang")
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


_E2_NGRAM_JACCARD_ORACLE = r"""
WITH d AS (
  SELECT doc_id, lang,
    regexp_split_to_array(
      regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS arr
  FROM documents WHERE doc_id < 1000
), g AS (
  SELECT doc_id, lang,
    list_distinct(list_transform(
      generate_series(1, greatest(len(arr) - 2, 1)),
      i -> array_to_string(arr[i:i+2], ' '))) AS g
  FROM d
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    len(list_intersect(a.g, b.g)) * 1.0
      / len(list_distinct(list_concat(a.g, b.g))) AS jaccard
  FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, round(jaccard, 6) AS jaccard
FROM pairs WHERE jaccard >= 0.2
"""


def q_e3_topk_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    top = sim_ops.brute_force_top_k(emb, [1.0] * 64, k=10)
    return top.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


_E3_ORACLE = """
WITH s AS (
  SELECT vec_id,
         list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS dot,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
)
SELECT vec_id, round(dot / (nrm * 8.0), 6) AS cos_sim
FROM s ORDER BY dot / (nrm * 8.0) DESC, vec_id LIMIT 10
"""


def q_e3_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow/numpy twin of q_e3_topk_sim — identical semantics and oracle,
    vectorized BLAS engine layer (the dense-algebra scale path)."""
    emb = load_table(spark, sf_dir, "embeddings")
    top = sim_ops.brute_force_top_k_arrow(emb, [1.0] * 64, k=10)
    return top.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


def q_e3_pairwise_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 20)
    top = sim_ops.pairwise_top_k(queries, emb, k=3)
    return top.select("query_id", "corpus_id", F.round("cos_sim", 6).alias("cos_sim"))


_E3_PAIRWISE_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
  FROM embeddings WHERE vec_id < 20
), c AS (
  SELECT vec_id AS corpus_id, embedding AS ce,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cn
  FROM embeddings
), s AS (
  SELECT query_id, corpus_id,
         list_sum(list_transform(range(1, 65),
              i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))) / (qn * cn) AS cs
  FROM q CROSS JOIN c
), r AS (
  SELECT query_id, corpus_id, cs,
         row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, corpus_id) AS rn
  FROM s
)
SELECT query_id, corpus_id, round(cs, 6) AS cos_sim FROM r WHERE rn <= 3
"""


def q_e3_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-k — ORACLED via plan-literal hyperplanes:
    bucket signatures, the bucket equi-join, exact cosine, and the
    (cos desc, corpus_id) tie-broken rank cut are all replicated."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 20)
    return sim_ops.lsh_top_k(queries, emb, dim=64, n_planes=8, k=3).select(
        "query_id", "corpus_id", F.round("cos_sim", 6).alias("cos_sim")
    )



def _lsh_bk_prefix(
    dim: int, n_planes: int, label: bool, tag: str = "", seed: int = 42
) -> str:
    """Shared WITH-prefix (e/lits/bk CTEs) for the LSH oracles —
    bucket sign rule, fold order, and the hyperplane literals live in
    ONE place (the SQL mirror of the engine's shared ``_lsh_scored``),
    and every generate_series width derives from ``dim``.  ``tag``
    suffixes the CTE names so two differently-parameterized prefixes
    (e.g. the RBO config-comparison oracle) can share one WITH clause."""
    from dataengineer_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed=seed)
    plane_lits = ["[" + ", ".join(repr(x) for x in p) + "]" for p in planes]

    def dot_sql(vec: str, lit: str) -> str:
        return (
            f"list_reduce(list_transform(generate_series(1, {dim}), "
            f"j -> {vec}[j] * {lit}[j]), (a, b) -> a + b)"
        )

    # planes hoisted into a 1-row CTE: a literal list inside a lambda is
    # re-materialized per element evaluation by DuckDB (minutes at 500
    # rows); a cross-joined column reference is materialized once
    bucket = " + ".join(
        f"(CASE WHEN {dot_sql('v', f'pl[{i + 1}]')} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    pl = "[" + ", ".join(plane_lits) + "]"
    lbl_sel = ", label AS lbl" if label else ""
    lbl_bk = ", lbl" if label else ""
    return f"""e{tag} AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v{lbl_sel} FROM embeddings
), lits{tag} AS (
  SELECT CAST({pl} AS DOUBLE[][]) AS pl
), bk{tag} AS (
  SELECT vec_id, v{lbl_bk},
    {bucket} AS bucket,
    sqrt(list_reduce(list_transform(generate_series(1, {dim}),
      j -> v[j] * v[j]), (a, b) -> a + b)) AS nrm
  FROM e{tag} CROSS JOIN lits{tag}
)"""


def _lsh_cos_sql(dim: int) -> str:
    return (
        "CASE WHEN q.nrm * c.nrm > 0 THEN\n"
        f"      list_reduce(list_transform(generate_series(1, {dim}),\n"
        "        j -> q.v[j] * c.v[j]), (x, y) -> x + y) / (q.nrm * c.nrm)\n"
        "    END"
    )


def _lsh_topk_oracle() -> str:
    dim, n_planes, k = 64, 8, 3
    return f"""
WITH {_lsh_bk_prefix(dim, n_planes, label=False)}, scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
    {_lsh_cos_sql(dim)} AS cos_sim
  FROM bk q JOIN bk c ON q.bucket = c.bucket
  WHERE q.vec_id < 20
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC NULLS LAST, corpus_id
  ) AS rn
  FROM scored
)
SELECT query_id, corpus_id, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rn <= {k}
"""


def q_e3_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 hard-negative mining (sim_ops.hard_negative_mining — the dense-
    retrieval negatives recipe): per anchor (vec_id < 20), the top-3
    most-cosine-similar items whose class label differs — similar
    enough to be hard, labeled differently so they are negatives.
    Same LSH-bucketed plan as q_e3_lsh_topk with the label inequality
    filtering candidates before the rank window.  Fully oracled
    (plan-literal hyperplanes replayed)."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 20)
    return sim_ops.hard_negative_mining(
        queries, emb, dim=64, n_planes=8, k=3
    ).select(
        "query_id", "corpus_id", F.round("cos_sim", 6).alias("cos_sim"),
        "neg_label",
    )


def _hard_negatives_oracle() -> str:
    dim, n_planes, k = 64, 8, 3
    return f"""
WITH {_lsh_bk_prefix(dim, n_planes, label=True)}, scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
    {_lsh_cos_sql(dim)} AS cos_sim,
    c.lbl AS neg_label
  FROM bk q JOIN bk c ON q.bucket = c.bucket
  WHERE q.vec_id < 20 AND c.lbl <> q.lbl
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC NULLS LAST, corpus_id
  ) AS rn
  FROM scored WHERE cos_sim IS NOT NULL
)
SELECT query_id, corpus_id, round(cos_sim, 6) AS cos_sim, neg_label
FROM ranked WHERE rn <= {k}
"""


def q_e3_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3+E21 k-NN classification (sim_ops.knn_classify): each held-out
    vector (vec_id < 50) takes the majority label of its k=5 nearest
    labeled neighbors (self excluded — queries come from the corpus), the
    classic embedding-space weak-labeling pass.  Deterministic end to
    end: vote ties to the smaller label, neighbor ties to the smaller
    corpus id.  Fully oracled (lsh bucket join + rank cut + vote
    replayed)."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 50)
    return sim_ops.knn_classify(
        queries, emb, dim=64, n_planes=8, k=5, exclude_self=True
    ).orderBy("query_id")


def _knn_pick_prefix(dim: int, n_planes: int, k: int, probe_filter: str) -> str:
    """Shared WITH-prefix through the majority-vote ``pick`` CTE — the
    SQL mirror of ``sim_ops.knn_classify`` (exclude_self form), used by
    both the q_e3_knn_classify oracle and the label-noise audit so the
    bucket join, rank cut, and vote tiebreaks live in ONE place."""
    return f"""{_lsh_bk_prefix(dim, n_planes, label=True)}, scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
    {_lsh_cos_sql(dim)} AS cos_sim,
    c.lbl
  FROM bk q JOIN bk c ON q.bucket = c.bucket
  WHERE {probe_filter} AND c.lbl IS NOT NULL AND c.vec_id <> q.vec_id
), topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC NULLS LAST, corpus_id
    ) AS rn
    FROM scored WHERE cos_sim IS NOT NULL) WHERE rn <= {k}
), votes AS (
  SELECT query_id, lbl, CAST(count(*) AS BIGINT) AS n_votes
  FROM topk GROUP BY query_id, lbl
), pick AS (
  SELECT query_id, lbl AS predicted_label, n_votes FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY n_votes DESC, lbl ASC
    ) AS pr
    FROM votes) WHERE pr = 1
)"""


def _knn_classify_oracle() -> str:
    dim, n_planes, k = 64, 8, 5
    return f"""
WITH {_knn_pick_prefix(dim, n_planes, k, 'q.vec_id < 50')}
SELECT query_id, predicted_label, n_votes FROM pick
ORDER BY query_id
"""


def q_e3_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3: distributed Lloyd's k-means codebook training (2 iterations,
    8 cells, dim 64) — the trainer for the IVF / SemDeDup coarse
    codebooks. ORACLED end to end: assignment is the same lexicographic
    struct-max the IVF oracle replicates, and the exact-decimal rounded
    means make every iteration reproducible in SQL (unrolled CTEs)."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    return sim_ops.kmeans_fit(emb, dim=64, n_centroids=8, iters=2, seed=7)


def _kmeans_oracle() -> str:
    from dataengineer_spark.operators.similarity import _centroids

    dim, n_centroids = 64, 8
    cents = _centroids(dim, n_centroids, seed=7)
    cm = (
        "["
        + ", ".join("[" + ", ".join(repr(x) for x in c) + "]" for c in cents)
        + "]"
    )
    # cm hoisted into a 1-row CTE (literal-in-lambda re-materialization)
    scores1 = (
        f"list_transform(generate_series(0, {n_centroids - 1}), "
        "i -> {'score': list_reduce(list_transform(generate_series(1, "
        f"{dim}), j -> v[j] * cm[i + 1][j]), (a, b) -> a + b), "
        "'cell': i})"
    )
    scores2 = (
        "list_transform(cb, s -> {'score': "
        f"list_reduce(list_transform(generate_series(1, {dim}), "
        "j -> v[j] * (s.cv)[j]), (a, b) -> a + b), 'cell': s.cell})"
    )
    mean = (
        "round(CAST(sum(CAST(round(x, 6) AS DECIMAL(19,6))) AS DOUBLE)"
        " / count(*), 6)"
    )
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), lits AS (
  SELECT CAST({cm} AS DOUBLE[][]) AS cm
), a1 AS (
  SELECT vec_id, v, (list_max({scores1})).cell AS cell FROM e CROSS JOIN lits
), x1 AS (
  SELECT cell, unnest(generate_series(1, {dim})) - 1 AS pos, unnest(v) AS x
  FROM a1
), m1 AS (
  SELECT cell, pos, {mean} AS c FROM x1 GROUP BY cell, pos
), cb1 AS (
  SELECT list({{'cell': cell, 'cv': cv}} ORDER BY cell) AS cb FROM (
    SELECT cell, list(c ORDER BY pos) AS cv FROM m1 GROUP BY cell
  )
), a2 AS (
  SELECT vec_id, v, (list_max({scores2})).cell AS cell FROM e CROSS JOIN cb1
), x2 AS (
  SELECT cell, unnest(generate_series(1, {dim})) - 1 AS pos, unnest(v) AS x
  FROM a2
)
SELECT CAST(cell AS INT) AS cell, CAST(pos AS INT) AS pos, {mean} AS c
FROM x2 GROUP BY cell, pos
"""


def q_e3_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k — ORACLED via the plan-literal codebook: cell
    assignment (lexicographic struct max, ties to the higher cell), the
    n_probe cell list, the cell join, cosine, and the rank cut are all
    replicated in SQL."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 20)
    return sim_ops.ivf_top_k(
        queries, emb, dim=64, k=3, n_centroids=16, n_probe=4
    ).select("query_id", "corpus_id", F.round("cos_sim", 6).alias("cos_sim"))


def _ivf_topk_oracle() -> str:
    from dataengineer_spark.operators.similarity import _centroids

    dim, k, n_centroids, n_probe = 64, 3, 16, 4
    cents = _centroids(dim, n_centroids, seed=7)
    cm = (
        "["
        + ", ".join("[" + ", ".join(repr(x) for x in c) + "]" for c in cents)
        + "]"
    )
    # cm hoisted into a 1-row CTE (literal-in-lambda re-materialization)
    scores = (
        f"list_transform(generate_series(0, {n_centroids - 1}), "
        "i -> {'score': list_reduce(list_transform(generate_series(1, 64), "
        "j -> v[j] * cm[i + 1][j]), (a, b) -> a + b), 'cell': i})"
    )
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), lits AS (
  SELECT CAST({cm} AS DOUBLE[][]) AS cm
), bk AS (
  SELECT vec_id, v,
    {scores} AS scores,
    sqrt(list_reduce(list_transform(generate_series(1, 64),
      j -> v[j] * v[j]), (a, b) -> a + b)) AS nrm
  FROM e CROSS JOIN lits
), c AS (
  SELECT vec_id AS corpus_id, v AS cv, nrm AS cn,
         (list_max(scores)).cell AS cell
  FROM bk
), q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn,
         unnest(list_slice(list_reverse(list_sort(scores)), 1, {n_probe})) AS p
  FROM bk WHERE vec_id < 20
), scored AS (
  SELECT q.query_id, c.corpus_id,
    CASE WHEN q.qn * c.cn > 0 THEN
      list_reduce(list_transform(generate_series(1, 64),
        j -> q.qv[j] * c.cv[j]), (x, y) -> x + y) / (q.qn * c.cn)
    END AS cos_sim
  FROM q JOIN c ON (q.p).cell = c.cell
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC NULLS LAST, corpus_id
  ) AS rn
  FROM scored
)
SELECT query_id, corpus_id, round(cos_sim, 6) AS cos_sim
FROM ranked WHERE rn <= {k}
"""


def _pq_query_vec() -> list[float]:
    import random as _random

    rnd = _random.Random(23)
    return [rnd.uniform(-1.0, 1.0) for _ in range(64)]


def q_e3_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 ANN, product-quantization variant — ORACLED via the plan-literal
    codebook + per-query LUT: the corpus quantizes to m=8 4-bit codes
    (sim_ops.pq_encode, map-only), and the scan scores each row with 8
    table lookups + adds instead of a 64-dim fold (asymmetric distance).
    DuckDB replays the encode (struct-min argmin, left-fold sums match
    Spark's aggregate bit-for-bit) and the same literal LUT, so the
    approximate distances — not just the ids — hash-match exactly."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    cb = sim_ops.pq_codebook(64, m=8, ksub=16, seed=11)
    top = sim_ops.pq_top_k(emb, _pq_query_vec(), cb, k=10)
    return top.select("vec_id", F.round("approx_dist", 6).alias("approx_dist"))


def _pq_relational_ctes(cb, qv, source_cte: str) -> str:
    """PQ encode + asymmetric distance as RELATIONAL DuckDB CTEs.

    The first-cut oracles inlined the 16x8 codebook literals inside
    nested lambdas; DuckDB re-materializes a literal list on every
    lambda-element evaluation, which took minutes even at 500 rows.
    Here the codebook is a 128-row VALUES table (j, i, cvec, half, lut):
    encode = cross join + per-(vec,j) window argmax, distance = the 8
    LUT rows re-added in fixed subquantizer order (one CASE per j) so
    float addition order matches the Spark side exactly.  Arithmetic is
    unchanged from the lambda form — left-fold dot, score = dot - half,
    ties to the LOWER centroid index — so hashes still match.

    ``qv=None`` is the query-less ENCODE-ONLY form (q_e3_pq_error's
    reconstruction audit): no lut column, and instead of enc/scored the
    prefix ends in a ``best`` CTE carrying (vec_id, v, j, cvec) — one
    argmax arithmetic definition serves every PQ oracle."""
    from dataengineer_spark.operators.similarity import _half_sqnorm

    m, ksub, dsub = len(cb), len(cb[0]), len(cb[0][0])
    rows = []
    for j in range(m):
        for i in range(ksub):
            c = cb[j][i]
            cvec = "[" + ", ".join(repr(x) for x in c) + "]"
            val = (
                f"({j}, {i}, CAST({cvec} AS DOUBLE[]), "
                f"CAST({_half_sqnorm(c)!r} AS DOUBLE)"
            )
            if qv is not None:
                lut = sum(
                    (qv[j * dsub + t] - c[t]) * (qv[j * dsub + t] - c[t])
                    for t in range(dsub)
                )
                val += f", CAST({lut!r} AS DOUBLE)"
            rows.append(val + ")")
    cbt = ",\n    ".join(rows)
    lut_col = ", lut" if qv is not None else ""
    keep = "cbt.lut" if qv is not None else "s.v, cbt.cvec"
    prefix = f"""cbt(j, i, cvec, half{lut_col}) AS (
  VALUES {cbt}
), encscore AS (
  SELECT s.vec_id, cbt.j, cbt.i, {keep},
    list_reduce(list_transform(generate_series(1, {dsub}),
      t -> s.v[cbt.j * {dsub} + t] * cbt.cvec[t]), (a, b) -> a + b)
      - cbt.half AS sc
  FROM {source_cte} s CROSS JOIN cbt
)"""
    if qv is None:
        return f"""{prefix}, best AS (
  SELECT vec_id, v, j, cvec FROM (
    SELECT vec_id, v, j, cvec, i,
      row_number() OVER (PARTITION BY vec_id, j ORDER BY sc DESC, i ASC) AS rn
    FROM encscore) WHERE rn = 1
)"""
    adist = " + ".join(f"sum(CASE WHEN j = {j} THEN lut END)" for j in range(m))
    return f"""{prefix}, enc AS (
  SELECT vec_id, j, lut FROM (
    SELECT vec_id, j, lut,
      row_number() OVER (PARTITION BY vec_id, j ORDER BY sc DESC, i ASC) AS rn
    FROM encscore) WHERE rn = 1
), scored AS (
  SELECT vec_id, {adist} AS ad FROM enc GROUP BY vec_id
)"""


def _pq_topk_oracle() -> str:
    cb = sim_ops.pq_codebook(64, m=8, ksub=16, seed=11)
    qv = _pq_query_vec()
    pq = _pq_relational_ctes(cb, qv, "e")
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), {pq}
SELECT vec_id, round(ad, 6) AS approx_dist
FROM scored ORDER BY ad ASC, vec_id ASC LIMIT 10
"""


def q_e3_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 ANN, IVF-PQ composite (sim_ops.ivf_pq_top_k) — the FAISS-style
    production index: literal coarse centroids prune to n_probe=4 of 16
    cells (pushdown-able IN filter), survivors score by PQ asymmetric
    distance (8 LUT lookups/row).  ORACLED end to end: DuckDB replays
    cell assignment, the literal probe list, the PQ encode, and the
    same LUT — approximate distances hash-match exactly."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    from dataengineer_spark.operators.similarity import _centroids

    coarse = _centroids(64, 16, seed=7)
    cb = sim_ops.pq_codebook(64, m=8, ksub=16, seed=11)
    top = sim_ops.ivf_pq_top_k(
        emb, _pq_query_vec(), coarse, cb, k=10, n_probe=4
    )
    return top.select("vec_id", F.round("approx_dist", 6).alias("approx_dist"))


def _ivfpq_oracle() -> str:
    from dataengineer_spark.operators.similarity import (
        _centroids,
        probe_cells_py,
    )

    coarse = _centroids(64, 16, seed=7)
    cb = sim_ops.pq_codebook(64, m=8, ksub=16, seed=11)
    qv = _pq_query_vec()
    probe = probe_cells_py(qv, coarse, 4)
    crows = ",\n    ".join(
        f"({i}, CAST([" + ", ".join(repr(x) for x in c) + "] AS DOUBLE[]))"
        for i, c in enumerate(coarse)
    )
    probe_list = ", ".join(str(p) for p in probe)
    pq = _pq_relational_ctes(cb, qv, "cand")
    # cell assignment ties go to the LARGER cell id (struct max over
    # {'score','cell'} on the Spark side) — hence ci DESC in the window
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), coarse(ci, cvec) AS (
  VALUES {crows}
), cellscore AS (
  SELECT e.vec_id, c.ci,
    list_reduce(list_transform(generate_series(1, 64),
      j -> e.v[j] * c.cvec[j]), (a, b) -> a + b) AS sc
  FROM e CROSS JOIN coarse c
), cellpick AS (
  SELECT vec_id FROM (
    SELECT vec_id, ci,
      row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, ci DESC) AS rn
    FROM cellscore) WHERE rn = 1 AND ci IN ({probe_list})
), cand AS (
  SELECT e.vec_id, e.v FROM e JOIN cellpick USING (vec_id)
), {pq}
SELECT vec_id, round(ad, 6) AS approx_dist
FROM scored ORDER BY ad ASC, vec_id ASC LIMIT 10
"""


def q_e3_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 ANN, IVF-PQ trained END TO END — the production path with NO
    literal codebooks: the coarse inverted file is Lloyd's k-means over
    the raw vectors (sim_ops.kmeans_codebook, 1 iteration, 8 cells) and
    each of the m=4 PQ sub-codebooks is k-means over its 16-dim
    subvector slice; the trained centroids then drive the ordinary
    ivf_pq_top_k cell-prune + ADC scan.  Training collects only
    control-plane rows (k × dim means per fit — the documented
    kmeans_codebook contract), and the bit-reproducible decimal means
    let DuckDB replay the WHOLE chain relationally: five k-means fits,
    the re-indexed trained codebooks, cell assignment, the probe list,
    encode argmax, and the LUT distances all hash-match."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    # coarse + all four sub-codebooks in ONE corpus pass (round-11;
    # value-identical to the five independent fits — pinned in tests):
    # 1 training scan total instead of 2 (r10) instead of 5 (r9)
    coarse, cb = sim_ops.ivfpq_codebooks_fit(
        emb, dim=64, m=4, ksub=8, n_coarse=8, iters=1,
        coarse_seed=7, pq_seed=11,
    )
    top = sim_ops.ivf_pq_top_k(
        emb, _pq_query_vec(), coarse, cb, k=10, n_probe=2
    )
    return top.select(
        "vec_id", F.round("approx_dist", 6).alias("approx_dist")
    )


def _ivfpq_trained_oracle() -> str:
    """Relational replay of the trained IVF-PQ chain: each k-means fit is
    the _kmeans_oracle pattern (seeded-literal assignment → exact-decimal
    rounded means), trained codebooks are re-indexed by sorted cell id
    (row_number − 1, mirroring the position-indexed python lists), and
    the encode/LUT stages are _pq_relational_ctes with the VALUES table
    replaced by the trained-centroid CTE."""
    from dataengineer_spark.operators.similarity import _centroids

    qv = _pq_query_vec()
    qlit = "[" + ", ".join(repr(x) for x in qv) + "]"
    mean = (
        "round(CAST(sum(CAST(round(x, 6) AS DECIMAL(19,6))) AS DOUBLE)"
        " / count(*), 6)"
    )

    def lit(cents):
        return (
            "["
            + ", ".join(
                "[" + ", ".join(repr(x) for x in c) + "]" for c in cents
            )
            + "]"
        )

    def fit(prefix, src, dim, k, cents_lit):
        scores = (
            f"list_transform(generate_series(0, {k - 1}), "
            "i -> {'score': list_reduce(list_transform(generate_series(1, "
            f"{dim}), j -> v[j] * ({prefix}_cm)[i + 1][j]), (a, b) -> a + b), "
            "'cell': i})"
        )
        return f""", {prefix}_lits AS (
  SELECT CAST({cents_lit} AS DOUBLE[][]) AS {prefix}_cm
), {prefix}_a AS (
  SELECT vec_id, v, (list_max({scores})).cell AS cell
  FROM {src} CROSS JOIN {prefix}_lits
), {prefix}_x AS (
  SELECT cell, unnest(generate_series(1, {dim})) - 1 AS pos, unnest(v) AS x
  FROM {prefix}_a
), {prefix}_m AS (
  SELECT cell, pos, {mean} AS c FROM {prefix}_x GROUP BY cell, pos
), {prefix}_cb AS (
  SELECT row_number() OVER (ORDER BY cell) - 1 AS i, cvec FROM (
    SELECT cell, list(c ORDER BY pos) AS cvec
    FROM {prefix}_m GROUP BY cell
  )
)"""

    parts = ["""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), qlits AS (
  SELECT CAST(""" + qlit + """ AS DOUBLE[]) AS qv
)"""]
    parts.append(fit("co", "e", 64, 8, lit(_centroids(64, 8, seed=7))))
    for j in range(4):
        parts.append(f""", sp{j} AS (
  SELECT vec_id, list_slice(v, {j * 16 + 1}, {(j + 1) * 16}) AS v FROM e
)""")
        parts.append(
            fit(f"p{j}", f"sp{j}", 16, 8, lit(_centroids(16, 8, seed=11 + j)))
        )
    sub_union = "\n    UNION ALL ".join(
        f"SELECT {j} AS j, i, cvec FROM p{j}_cb" for j in range(4)
    )
    adist = " + ".join(
        f"sum(CASE WHEN j = {j} THEN lut END)" for j in range(4)
    )
    parts.append(f""", cscore AS (
  SELECT e.vec_id, c.i AS ci,
    list_reduce(list_transform(generate_series(1, 64),
      t -> e.v[t] * c.cvec[t]), (a, b) -> a + b) AS sc
  FROM e CROSS JOIN co_cb c
), cpick AS (
  SELECT vec_id, ci FROM (
    SELECT vec_id, ci,
      row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, ci DESC) AS rn
    FROM cscore) WHERE rn = 1
), qscore AS (
  SELECT c.i AS ci,
    list_reduce(list_transform(generate_series(1, 64),
      t -> qv[t] * c.cvec[t]), (a, b) -> a + b) AS sc
  FROM co_cb c CROSS JOIN qlits
), probe AS (
  SELECT ci FROM qscore ORDER BY sc DESC, ci DESC LIMIT 2
), cand AS (
  SELECT e.vec_id, e.v FROM e
  JOIN (SELECT vec_id FROM cpick WHERE ci IN (SELECT ci FROM probe))
  USING (vec_id)
), cbt AS (
  SELECT u.j, u.i, u.cvec,
    list_reduce(list_transform(generate_series(1, 16),
      t -> u.cvec[t] * u.cvec[t]), (a, b) -> a + b) * 0.5 AS half,
    list_reduce(list_transform(generate_series(1, 16),
      t -> (qv[u.j * 16 + t] - u.cvec[t])
           * (qv[u.j * 16 + t] - u.cvec[t])), (a, b) -> a + b) AS lut
  FROM ({sub_union}) u CROSS JOIN qlits
), encscore AS (
  SELECT s.vec_id, cbt.j, cbt.i, cbt.lut,
    list_reduce(list_transform(generate_series(1, 16),
      t -> s.v[cbt.j * 16 + t] * cbt.cvec[t]), (a, b) -> a + b)
      - cbt.half AS sc
  FROM cand s CROSS JOIN cbt
), enc AS (
  SELECT vec_id, j, lut FROM (
    SELECT vec_id, j, lut,
      row_number() OVER (PARTITION BY vec_id, j ORDER BY sc DESC, i ASC) AS rn
    FROM encscore) WHERE rn = 1
), scored AS (
  SELECT vec_id, {adist} AS ad FROM enc GROUP BY vec_id
)
SELECT vec_id, round(ad, 6) AS approx_dist
FROM scored ORDER BY ad ASC, vec_id ASC LIMIT 10""")
    return "".join(parts)


def q_e3_ivfpq_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3+K: the ANN index AS A LAKE TABLE — encode once, probe forever.
    The corpus is PQ-encoded to (vec_id, cell, pq_code) rows (~m bytes
    per vector instead of 8·dim) and written parquet PARTITIONED BY the
    coarse cell, so the inverted file IS the directory layout: the probe
    reads only its n_probe=4 cell directories (partition pruning, never
    the raw vectors) and scores by the LUT.  Effectful (temp-dir index
    write).  approx_dist is value-identical to the on-the-fly
    ``q_e3_ivfpq_topk`` (same literal codebooks, same ADC arithmetic) —
    the two share one oracle."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    from dataengineer_spark.operators.similarity import _centroids

    coarse = _centroids(64, 16, seed=7)
    cb = sim_ops.pq_codebook(64, m=8, ksub=16, seed=11)
    v = F.col("embedding").cast("array<double>")
    enc = sim_ops.pq_encode(
        emb.select("vec_id", v.alias("_cv")), cb, vec_col="_cv",
        out="pq_code",
    )
    idx = enc.select(
        "vec_id",
        sim_ops.nearest_cell("_cv", coarse).alias("cell"),
        "pq_code",
    )
    root = tempfile.mkdtemp(prefix="spark_graft_ivfidx_") + "/index"
    # co-locate each coarse cell before the partitioned write: without
    # this every write task emits a file into every cell directory
    # (tasks × 64 small files — the classic small-files trap, and most
    # of this query's wall); shuffled by cell it's one file per cell,
    # and the rows are PQ codes (~m bytes each), so the exchange is tiny
    idx.repartition("cell").write.partitionBy("cell").parquet(root)
    stored = spark.read.parquet(root)
    qv = _pq_query_vec()
    cand = stored.where(
        F.col("cell").isin(sim_ops.probe_cells_py(qv, coarse, 4))
    )
    top = sim_ops.pq_top_k(cand, qv, cb, k=10, code_col="pq_code")
    return top.select(
        "vec_id", F.round("approx_dist", 6).alias("approx_dist")
    )


def q_e3_jl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 dimensionality reduction: Johnson-Lindenstrauss random projection
    64→16 (sim_ops.project — one fold per row carrying all 16 partial
    sums, matrix as a plan literal, map-only) followed by exact cosine
    top-k in the reduced space.  The query vector projects driver-side
    with bit-identical float ordering (project_py), so the DuckDB oracle
    replays projection + cosine exactly — reduced-space SCORES hash-match,
    not just ids.  At 100 TB this is the pre-step that shrinks every
    downstream ANN read 4×."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    mat = sim_ops.random_projection_matrix(64, 16, seed=17)
    red = emb.select(
        "vec_id",
        sim_ops.project("CAST(`embedding` AS ARRAY<DOUBLE>)", mat).alias("rv"),
    )
    qv = sim_ops.project_py(_pq_query_vec(), mat)
    top = sim_ops.brute_force_top_k(red, qv, vec_col="rv", id_col="vec_id", k=10)
    return top.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


def _jl_topk_oracle() -> str:
    mat = sim_ops.random_projection_matrix(64, 16, seed=17)
    qv = sim_ops.project_py(_pq_query_vec(), mat)
    mt = (
        "["
        + ", ".join("[" + ", ".join(repr(x) for x in row) + "]" for row in mat)
        + "]"
    )
    qlit = "CAST([" + ", ".join(repr(x) for x in qv) + "] AS DOUBLE[])"
    # mt/qv hoisted into a 1-row CTE (literal-in-lambda re-materialization)
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), lits AS (
  SELECT CAST({mt} AS DOUBLE[][]) AS mt, {qlit} AS qv
), p AS (
  SELECT vec_id, qv,
    list_transform(generate_series(0, 15), i ->
      list_reduce(list_transform(generate_series(1, 64),
        j -> v[j] * mt[i + 1][j]), (a, b) -> a + b)) AS rv
  FROM e CROSS JOIN lits
), scored AS (
  SELECT vec_id,
    sqrt(list_reduce(list_transform(generate_series(1, 16),
      t -> rv[t] * rv[t]), (a, b) -> a + b)) *
    sqrt(list_reduce(list_transform(generate_series(1, 16),
      t -> qv[t] * qv[t]), (a, b) -> a + b)) AS denom,
    list_reduce(list_transform(generate_series(1, 16),
      t -> rv[t] * qv[t]), (a, b) -> a + b) AS dp
  FROM p
), cs AS (
  SELECT vec_id, CASE WHEN denom > 0 THEN dp / denom END AS cos_sim
  FROM scored
)
SELECT vec_id, round(cos_sim, 6) AS cos_sim
FROM cs ORDER BY cos_sim DESC NULLS LAST, vec_id LIMIT 10
"""


def q_f9_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3/F5 completion: BPE vocabulary TRAINING on the corpus
    (functions/bpe.bpe_train — one corpus scan to a vocab-sized word
    histogram, collected once; all six merges then run on the driver, so
    the fit is one driver round trip whatever the merge count, cost
    independent of corpus size).  The merge list comes back as an Arrow
    local relation (tuning.control_frame).  The DuckDB oracle still
    replays all six merge rounds as unrolled CTE stages — double-sentinel
    segmentation strings make the non-overlapping replace reproduce BPE's
    greedy-left merge in both engines bit-for-bit."""
    from dataengineer_spark.functions.bpe import bpe_train

    docs = _docs(spark, sf_dir).select("text")
    merges = bpe_train(docs, "text", n_merges=6)
    return control_frame(
        spark,
        [(i + 1, a, b, a + b) for i, (a, b) in enumerate(merges)],
        "rank int, lhs string, rhs string, merged string",
    )


def _bpe_oracle(n_merges: int = 6) -> str:
    s = "chr(1)"
    ss = "chr(1) || chr(1)"
    stages = [
        f"""h0 AS (
  SELECT {ss} || array_to_string(regexp_split_to_array(word, ''), {ss})
           || {ss} AS seg,
         CAST(n AS BIGINT) AS n
  FROM (
    SELECT word, count(*) AS n FROM (
      SELECT unnest(regexp_split_to_array(
        regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) AS word
      FROM documents
    ) GROUP BY word
  )
)"""
    ]
    for i in range(1, n_merges + 1):
        stages.append(
            f"""m{i} AS (
  SELECT a, b FROM (
    SELECT t[j] AS a, t[j + 1] AS b, sum(n) AS cnt
    FROM (
      SELECT list_filter(string_split(seg, chr(1)), x -> x <> '') AS t, n
      FROM h{i - 1}
    ), unnest(generate_series(1, len(t) - 1)) AS u(j)
    GROUP BY 1, 2 ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
  )
)"""
        )
        stages.append(
            f"""h{i} AS (
  SELECT replace(seg, {s} || m.a || {ss} || m.b || {s},
                 {s} || m.a || m.b || {s}) AS seg, n
  FROM h{i - 1}, m{i} m
)"""
        )
    selects = "\nUNION ALL ".join(
        f"SELECT {i} AS rank, a AS lhs, b AS rhs, a || b AS merged FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(stages) + "\n" + selects


#: a trained-artifact merge list (the production shape: train once with
#: bpe_train, ship the merges as plan literals, tokenize everywhere)
_BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("e", "r"), ("o", "n"), ("an", "d"), ("s", "t"),
]


def q_f12_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3/F5 completion, apply side: tokenize the corpus with a TRAINED
    BPE merge list (functions/bpe.bpe_segment — one sentinel replace per
    merge, pure expression chain, map-only at any scale; the merges ship
    as plan literals exactly like the ANN codebooks).  Per-doc whitespace
    word count + subword count after all 8 merges.  ORACLED: DuckDB
    replays the double-sentinel segmentation and the same ordered
    replace chain bit-for-bit."""
    from dataengineer_spark.functions.bpe import bpe_segment
    from dataengineer_spark.operators.textops import trim_ws

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    t = trim_ws(F.lower(F.col("text")))
    words = F.split(t, r"\s+")
    n_words = F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(words))
    counts = F.transform(words, lambda w: F.size(bpe_segment(w, _BPE_MERGES)))
    n_bpe = (
        F.when(F.length(t) == 0, F.lit(0).cast("bigint"))
        .otherwise(
            F.aggregate(
                counts, F.lit(0).cast("bigint"), lambda acc, v: acc + v
            )
        )
    )
    return docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        n_bpe.alias("n_bpe_tokens"),
    )


def _bpe_tokenize_oracle() -> str:
    s = "chr(1)"
    ss = "chr(1) || chr(1)"
    seg = f"{ss} || array_to_string(regexp_split_to_array(w, ''), {ss}) || {ss}"
    for a, b in _BPE_MERGES:
        seg = (
            f"replace({seg}, {s} || '{a}' || {ss} || '{b}' || {s}, "
            f"{s} || '{a}{b}' || {s})"
        )
    return f"""
WITH d AS (
  SELECT doc_id, regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g') AS t
  FROM documents
), words AS (
  SELECT doc_id, unnest(regexp_split_to_array(t, '\\s+')) AS w
  FROM d WHERE length(t) > 0
), cnt AS (
  SELECT doc_id, count(*) AS nw,
         sum(len(list_filter(string_split({seg}, chr(1)), x -> x <> ''))) AS nb
  FROM words GROUP BY doc_id
)
SELECT d.doc_id, CAST(coalesce(cnt.nw, 0) AS BIGINT) AS n_words,
       CAST(coalesce(cnt.nb, 0) AS BIGINT) AS n_bpe_tokens
FROM d LEFT JOIN cnt USING (doc_id)
"""


def q_e4_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    feats = textops.quality_features(docs, "text")
    return feats.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("digit_ratio", 6).alias("digit_ratio"),
    )


_E4_STATS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, length(text) AS n,
         CASE WHEN length(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) = 0 THEN 0
              ELSE len(regexp_split_to_array(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END AS toks,
         length(regexp_replace(text, '{textops.PUNCT_NEGATED}', '', 'g')) AS punct,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits
  FROM documents
)
SELECT doc_id, CAST(toks AS BIGINT) AS n_tokens,
       round(CASE WHEN toks > 0 THEN CAST(n AS DOUBLE) / toks END, 6) AS mean_word_len,
       round(CASE WHEN n > 0 THEN CAST(punct AS DOUBLE) / n ELSE 0.0 END, 6) AS punct_ratio,
       round(CASE WHEN n > 0 THEN CAST(digits AS DOUBLE) / n ELSE 0.0 END, 6) AS digit_ratio
FROM t
"""


def q_e4_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", "lang", textops.language_id(F.col("text")).alias("detected")
    )


def _langid_oracle() -> str:
    scores = {
        lang: (
            f"len(regexp_extract_all(lower(text), "
            f"'\\b(?:{'|'.join(markers)})\\b'))"
        )
        for lang, markers in textops._LANG_MARKERS.items()
    }
    s = scores
    return f"""
WITH t AS (
  SELECT doc_id, lang, text,
         {s['en']} AS s_en, {s['fr']} AS s_fr, {s['es']} AS s_es, {s['de']} AS s_de,
         regexp_matches(text, '{textops.CJK_PATTERN}') AS has_cjk
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN has_cjk THEN 'zh'
            WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de AND s_en > 0 THEN 'en'
            WHEN s_fr >= s_es AND s_fr >= s_de AND s_fr > 0 THEN 'fr'
            WHEN s_es >= s_de AND s_es > 0 THEN 'es'
            WHEN s_de > 0 THEN 'de'
            ELSE 'und' END AS detected
FROM t
"""


def q_e4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 document fingerprints: the xxhash64 of the normalized text and
    the 4 smallest xxhash64 values of its distinct char 8-grams.  ORACLED:
    DuckDB replays every hash with ``_duck_xxhash64``.

    ``winnowed`` is serialized to a CSV string: every returned column must
    be scalar or the driver's pandas-based row hash raises ``unhashable
    type: 'list'`` (CORRECTNESS_r01 q_e4_fingerprint)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        textops.doc_fingerprint("text").alias("fingerprint"),
        F.concat_ws(
            ",", textops.winnowed_fingerprints("text").cast("array<string>")
        ).alias("winnowed"),
    )


_E4_FP_ORACLE = rf"""
WITH d AS (
  SELECT doc_id,
    trim(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS norm,
    {_duck_shingles(8)} AS sh
  FROM documents
), sh AS (
  SELECT doc_id, unnest(sh) AS s FROM d
), {_duck_xxhash64_cte("su", "s", "sh")},
{_duck_xxhash64_cte("nu", "norm", "d")}, wh AS (
  SELECT doc_id, list_sort(list(su.h)) AS wh
  FROM sh JOIN su USING (s) GROUP BY doc_id
)
SELECT d.doc_id, nu.h AS fingerprint,
       array_to_string(list_slice(wh.wh, 1, 4), ',') AS winnowed
FROM d JOIN nu USING (norm) JOIN wh USING (doc_id)
"""


def _neardup_dedup_oracle() -> str:
    prefix = _minhash_cte_prefix(
        "SELECT doc_id, text FROM documents", bands=8, family="xxhash64"
    )
    return f"""
WITH RECURSIVE
{prefix}, shset AS (
  -- verify on the xxhash64 shingle sets, as the engine does
  -- (dedup._hashed_shingles_sql): integer sets intersect ~4× faster
  SELECT doc_id, list(u.h) AS ss
  FROM banded_sh JOIN banded_u u USING (s) GROUP BY doc_id
), pairs AS MATERIALIZED (  -- read by every recursion step
  SELECT cand.id_a, cand.id_b
  FROM cand
  JOIN shset sa ON sa.doc_id = cand.id_a
  JOIN shset sb ON sb.doc_id = cand.id_b
  WHERE {_duck_jaccard("sa.ss", "sb.ss")} >= 0.5
), nodes AS (
  SELECT DISTINCT id_a AS n FROM pairs UNION SELECT DISTINCT id_b FROM pairs
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs UNION ALL SELECT id_b, id_a FROM pairs
), reach(node, lab) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b
), cc AS (
  SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node
), losers AS (
  SELECT node FROM cc WHERE node <> cluster_id
)
SELECT doc_id FROM d
WHERE doc_id NOT IN (SELECT node FROM losers)
"""


# ---------------------------------------------------------------------------
# E12 UDF surface, E11 streaming, multimodal
# ---------------------------------------------------------------------------


def q_e12_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    @F.pandas_udf(T.DoubleType())
    def boost(s: "pd.Series") -> "pd.Series":
        return s * 0.5 + 7.0

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", boost(F.col("n_chars")).alias("boosted"))


_E12_ORACLE = "SELECT doc_id, CAST(n_chars AS DOUBLE) * 0.5 + 7.0 AS boosted FROM documents"



def q_e12_iter_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E12 iterator-form pandas_udf: one-time per-executor setup amortized

    across Arrow batches (the transformer-inference pattern, M1, with a
    deterministic stand-in for the model)."""
    from typing import Iterator
    from pyspark.sql import types as T

    def scaled(batches):
        factor = 0.25  # stands in for loading a model once per executor
        for s in batches:
            yield s * factor + 3.0

    # set hints directly: the module's `from __future__ import annotations`
    # would stringify inline ones beyond pandas_udf's resolver
    scaled.__annotations__ = {
        "batches": Iterator[pd.Series],
        "return": Iterator[pd.Series],
    }
    scaled = F.pandas_udf(scaled, T.DoubleType())

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", scaled(F.col("n_chars")).alias("scaled"))


_E12_ITER_ORACLE = "SELECT doc_id, CAST(n_chars AS DOUBLE) * 0.25 + 3.0 AS scaled FROM documents"


def q_e11_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming over the events parquet (availableNow), complete

    mode so every window emits — result equals the batch tumbling agg."""
    from dataengineer_spark.streaming import (
        stream_events,
        stream_runtime_session,
        windowed_counts,
    )
    # stateful run: child session with input-derived state width +
    # no-data finalizing batch skipped (results partition-count- and
    # no-data-batch-invariant; see stream_runtime_session docstring)
    spark = stream_runtime_session(spark, sf_dir + "/events.parquet")

    stream = stream_events(spark, sf_dir + "/events.parquet")
    counts = windowed_counts(stream, window="1 hour", watermark="10 minutes")
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name)
    return out.select(
        "window_start",
        "window_end",
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round("total_value", 2).alias("total_value"),
    )


_E11_ORACLE = _E10_TUMBLING_ORACLE


def q_e11_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming approximate distinct: windowed HLL++ unique users per
    event_type over the events STREAM (windowed_distinct_approx —
    fixed-size registers per open window, the only distinct an unbounded
    stream's state store can afford; exact streaming distinct holds every
    seen key).  Bound-check oracle in the q_e5_approx_distinct style: the
    streamed estimate joins the BATCH exact distinct per window and emits
    an in-bounds boolean (3*rsd) that DuckDB asserts TRUE."""
    from dataengineer_spark.streaming import (
        stream_events,
        stream_runtime_session,
        windowed_distinct_approx,
    )
    # stateful run: child session with input-derived state width +
    # no-data finalizing batch skipped (results partition-count- and
    # no-data-batch-invariant; see stream_runtime_session docstring)
    spark = stream_runtime_session(spark, sf_dir + "/events.parquet")

    stream = stream_events(spark, sf_dir + "/events.parquet")
    est = windowed_distinct_approx(stream, window="1 hour", rsd=0.05)
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        est.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    events = load_table(spark, sf_dir, "events")
    exact = events.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count_distinct("user_id").alias("exact_users")).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "event_type",
        "exact_users",
    )
    return (
        spark.table(name)
        .join(exact, ["window_start", "window_end", "event_type"])
        .select(
            "window_start",
            "window_end",
            "event_type",
            "exact_users",
            # Spark's HLL++ has no sparse mode, so tiny windows carry an
            # O(1) absolute wobble: bound = max(2, 15% relative)
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.greatest(
                    F.lit(2.0), F.col("exact_users").cast("double") * 0.15
                )
            ).alias("est_ok"),
        )
    )


_E11_STREAM_HLL_ORACLE = """
SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS window_start,
       make_timestamp((epoch_us(ts) // 3600000000) * 3600000000 + 3600000000) AS window_end,
       event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS est_ok
FROM events GROUP BY 1, 2, 3
"""



def q_e11_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window on the stream (complete mode — session

    windows don't support update — with availableNow); session ids
    assigned post-hoc by start order to match the batch sessionization
    contract. Gap boundary semantics match the lag oracle on this data
    (no consecutive events exactly at the 30-min gap)."""
    from pyspark.sql import Window as W
    from dataengineer_spark.streaming import (
        stream_events,
        stream_runtime_session,
    )
    # stateful run: child session with input-derived state width +
    # no-data finalizing batch skipped (results partition-count- and
    # no-data-batch-invariant; see stream_runtime_session docstring)
    spark = stream_runtime_session(spark, sf_dir + "/events.parquet")

    stream = stream_events(spark, sf_dir + "/events.parquet")
    sess = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("_w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )
    name = f"stream_sess_{uuid.uuid4().hex[:8]}"
    q = (
        sess.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    w = W.partitionBy("user_id").orderBy("session_start")
    return spark.table(name).select(
        "user_id",
        F.row_number().over(w).cast("bigint").alias("session_id"),
        F.col("n_events").cast("bigint").alias("n_events"),
        "session_start",
        "session_end",
    )


def q_mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature-extraction plumbing (mapInPandas, Arrow batch).

    ORACLED end to end: the deterministic fake decoder is the portable
    poly-hash fold (multimodal._fake_feature), so DuckDB replays hash →
    per-dim affine expansion → float32 rounding → double-fold L2 norm
    and the norms hash-match, not just row counts."""
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("image/fake").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("bigint").alias("duration_ms"),
    )
    feats = extract_features(media, deterministic_fake=True)
    return feats.select("media_id", "kind", F.round("feat_norm", 4).alias("feat_norm"))


_MM_FEATURES_ORACLE = f"""
WITH h AS (
  SELECT doc_id,
    CASE WHEN text IS NULL THEN NULL ELSE
      {_duck_poly("substr(text, 1, 64)")}
    END AS h
  FROM documents
)
SELECT doc_id AS media_id, 'image' AS kind,
  round(CASE WHEN h IS NULL THEN 0.0 ELSE
    sqrt(list_reduce(
      list_prepend(CAST(0 AS DOUBLE),
        list_transform(generate_series(0, 15), i ->
          CAST(CAST(((h * (2 * i + 3) + 97 * i) % 1000003) / 1000003.0
               AS REAL) AS DOUBLE)
          * CAST(CAST(((h * (2 * i + 3) + 97 * i) % 1000003) / 1000003.0
                 AS REAL) AS DOUBLE))),
      (a, b) -> a + b))
  END, 4) AS feat_norm
FROM h
"""


def _fake_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → typed media table (payload = utf-8 text bytes, kind by

    doc_id mod 3, duration from n_chars) — deterministic, so metadata
    operators stay oracle-able."""
    docs = load_table(spark, sf_dir, "documents")
    kind = (
        F.when(F.pmod("doc_id", F.lit(3)) == 0, "image")
        .when(F.pmod("doc_id", F.lit(3)) == 1, "audio")
        .otherwise("video")
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.concat(kind, F.lit("/fake")).alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        (F.col("n_chars").cast("bigint") * 10).alias("duration_ms"),
    )


def q_mm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only media stats — payload column pruned from the scan."""
    from dataengineer_spark.operators.multimodal import media_stats

    out = media_stats(_fake_media(spark, sf_dir))
    return out.select(
        "kind",
        F.col("n").cast("bigint").alias("n"),
        F.round("avg_bytes", 4).alias("avg_bytes"),
        F.round("avg_duration_ms", 4).alias("avg_duration_ms"),
    )


_MM_STATS_ORACLE = """
SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(octet_length(encode(text))), 4) AS avg_bytes,
       round(avg(n_chars * 10), 4) AS avg_duration_ms
FROM documents GROUP BY 1
"""


def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: 1 row → N frame rows via mapInPandas

    (output cardinality differs from input); fake codec slices payload at
    every_ms boundaries.  ORACLED: frame fan-out, offsets, and slice byte
    counts are pure metadata arithmetic DuckDB replays exactly."""
    from dataengineer_spark.operators.multimodal import sample_frames

    media = _fake_media(spark, sf_dir).where(F.col("kind") == "video")
    frames = sample_frames(media, every_ms=2000, deterministic_fake=True)
    return frames.select(
        "media_id", "frame_idx", "frame_ms", F.length("frame").alias("frame_bytes")
    )


_MM_FRAME_SAMPLE_ORACLE = """
WITH v AS (
  SELECT doc_id, coalesce(octet_length(encode(text)), 0) AS len,
         coalesce(n_chars * 10, 0) AS dur
  FROM documents WHERE doc_id % 3 = 2
), p AS (
  SELECT doc_id, len,
    CASE WHEN dur = 0 THEN 1 ELSE greatest(dur // 2000, 1) END AS n
  FROM v
), f AS (
  SELECT doc_id, unnest(generate_series(0, n - 1)) AS i, len,
         greatest(len // n, 1) AS step
  FROM p
)
SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
       CAST(i * 2000 AS BIGINT) AS frame_ms,
       CAST(greatest(least((i + 1) * step, len) - least(i * step, len), 0)
            AS INT) AS frame_bytes
FROM f
"""


def q_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing: binary in → binary out, metadata updated;

    fake codec pads/truncates payload to the target byte size.  ORACLED:
    the output metadata (target dims, result byte count) is deterministic
    arithmetic."""
    from dataengineer_spark.operators.multimodal import resize_images

    media = _fake_media(spark, sf_dir).where(F.col("kind") == "image")
    out = resize_images(media, width=16, height=16, deterministic_fake=True)
    return out.select("media_id", "width", "height", F.length("payload").alias("n_bytes"))


_MM_RESIZE_ORACLE = """
SELECT doc_id AS media_id, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
       CASE WHEN text IS NULL THEN NULL ELSE CAST(256 AS INT) END AS n_bytes
FROM documents WHERE doc_id % 3 = 0
"""



# ---------------------------------------------------------------------------
# JSON, pivot/unpivot, distinct/percentile aggregates
# ---------------------------------------------------------------------------


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.functions.json_ops import json_get_long

    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_id", json_get_long("props", "k").alias("k"))


_JSON_ORACLE = (
    "SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k "
    "FROM events"
)


def q_e5_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return agg_ops.pivot_agg(
        li, "l_returnflag", "l_linestatus", ["O", "F"],
        F.round(F.sum("l_quantity"), 2),
    )


_E5_PIVOT_ORACLE = """
SELECT l_returnflag,
       round(CAST(sum(l_quantity) FILTER (WHERE l_linestatus = 'O') AS DOUBLE), 2) AS "O",
       round(CAST(sum(l_quantity) FILTER (WHERE l_linestatus = 'F') AS DOUBLE), 2) AS "F"
FROM lineitem GROUP BY l_returnflag
"""


def q_e5_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = q_e5_pivot(spark, sf_dir)
    return agg_ops.unpivot(wide, ["l_returnflag"], ["O", "F"], "l_linestatus", "sum_qty")


_E5_UNPIVOT_ORACLE = """
WITH p AS (
  SELECT l_returnflag,
         round(CAST(sum(l_quantity) FILTER (WHERE l_linestatus = 'O') AS DOUBLE), 2) AS v_o,
         round(CAST(sum(l_quantity) FILTER (WHERE l_linestatus = 'F') AS DOUBLE), 2) AS v_f
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'O' AS l_linestatus, v_o AS sum_qty FROM p
UNION ALL
SELECT l_returnflag, 'F' AS l_linestatus, v_f AS sum_qty FROM p
"""


def q_e5_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return agg_ops.distinct_agg(li, ["l_returnflag"], "l_partkey", "n_parts")


_E5_DISTINCT_ORACLE = """
SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
FROM lineitem GROUP BY l_returnflag
"""


def q_e5_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = agg_ops.percentiles(li, ["l_returnflag"], "l_extendedprice", [0.5, 0.9])
    return out.select(
        "l_returnflag",
        F.round("p50", 4).alias("p50"),
        F.round("p90", 4).alias("p90"),
    )


_E5_PERCENTILE_ORACLE = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
FROM lineitem GROUP BY l_returnflag
"""


def q_e5_percentile_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles via range partitioning + broadcast rank offsets —
    same values as q_e5_percentile but no task ever holds a whole group
    (the 3-groups × huge-data shape that defeats per-group sorting)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = agg_ops.percentiles_distributed(
        li, ["l_returnflag"], "l_extendedprice", [0.5, 0.9]
    )
    return out.select(
        "l_returnflag",
        F.round("p50", 4).alias("p50"),
        F.round("p90", 4).alias("p90"),
    )


def q_e5_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bound-check oracle: G-K sketch estimates can't hash-match DuckDB's
    t-digest, but the sketch's guarantee — rank error <= n/accuracy — IS a
    deterministic claim.  Emit per-group row counts plus booleans that the
    estimate lands between the exact percentiles at +-2% rank (G-K at
    accuracy=10000 is bounded at +-0.01% rank); the oracle asserts TRUE."""
    li = load_table(spark, sf_dir, "lineitem")
    est = agg_ops.approx_percentiles(
        li, ["l_returnflag"], "l_extendedprice", [0.5, 0.9]
    )
    # ONE array-percentile call: four scalar F.percentile aggs each hold
    # their own full-column sort buffer; the array form sorts once and
    # reads four ranks from it (same function, identical values)
    exact = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.percentile(
            "l_extendedprice",
            F.array(F.lit(0.48), F.lit(0.52), F.lit(0.88), F.lit(0.92)),
        ).alias("_p"),
    )
    return est.join(F.broadcast(exact), "l_returnflag").select(
        "l_returnflag",
        "n_rows",
        F.col("p50").between(
            F.element_at("_p", 1), F.element_at("_p", 2)
        ).alias("p50_ok"),
        F.col("p90").between(
            F.element_at("_p", 3), F.element_at("_p", 4)
        ).alias("p90_ok"),
    )


_E5_APPROX_PCT_ORACLE = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
       TRUE AS p50_ok, TRUE AS p90_ok
FROM lineitem GROUP BY l_returnflag
"""


def q_e5_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bound-check oracle: HLL++ estimates can't hash-match an exact-SQL
    oracle, but "estimate within 3*rsd of exact" is deterministic for a
    given input and rsd.  Emit the exact distinct count plus an in-bounds
    boolean (rsd=0.05 -> 15% bound); the oracle asserts TRUE."""
    li = load_table(spark, sf_dir, "lineitem")
    est = agg_ops.approx_distinct_agg(
        li, ["l_returnflag"], "l_partkey", "approx_parts"
    )
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("exact_parts")
    )
    return est.join(F.broadcast(exact), "l_returnflag").select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            / F.col("exact_parts").cast("double")
            <= F.lit(0.15)
        ).alias("est_ok"),
    )


_E5_APPROX_DISTINCT_ORACLE = """
SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS est_ok
FROM lineitem GROUP BY l_returnflag
"""


def q_e7_grouptopk_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe exact per-group top-k (two-phase salted window)."""
    from dataengineer_spark.operators.windows import top_k_per_group_salted

    orders = load_table(spark, sf_dir, "orders")
    top = top_k_per_group_salted(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3,
        salt_on=["o_orderkey"],
    )
    return top.select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))


_E7_SALTED_ORACLE = """
SELECT o_custkey, o_orderkey, round(CAST(o_totalprice AS DOUBLE), 2) AS o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""


def q_e5_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bound-check oracle: per-(flag,status) DataSketches HLL sketches
    merged to per-flag distinct estimates — the no-rescan incremental-
    distinct pattern.  The merged estimate can't hash-match exact SQL, but
    at lgK=12 (RSE ~1.6%) "within 10% of exact" is deterministic; emit the
    exact distinct plus the in-bounds boolean, oracle asserts TRUE."""
    from dataengineer_spark.operators import sketches

    li = load_table(spark, sf_dir, "lineitem")
    per_part = sketches.hll_sketch(li, ["l_returnflag", "l_linestatus"], "l_partkey")
    est = sketches.hll_merge(per_part, ["l_returnflag"], out="approx_parts")
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("exact_parts")
    )
    return est.join(F.broadcast(exact), "l_returnflag").select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            / F.col("exact_parts").cast("double")
            <= F.lit(0.10)
        ).alias("est_ok"),
    )


_E5_HLL_ROLLUP_ORACLE = """
SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS est_ok
FROM lineitem GROUP BY l_returnflag
"""


def q_e5_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 feature cleaning: per-priority winsorization of order totals at
    the exact [p5, p95] percentiles (agg_ops.winsorize — one cut-point
    aggregate broadcast back onto the rows; keeps rows, bounds
    influence).  Emits the clipped aggregate per group so the oracle
    verifies both the cut points and their application."""
    orders = load_table(spark, sf_dir, "orders")
    w = agg_ops.winsorize(
        orders.select("o_orderpriority", "o_totalprice"),
        ["o_orderpriority"],
        "o_totalprice",
        0.05,
        0.95,
        out="clipped",
    )
    return w.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum("clipped"), 2).alias("sum_clipped"),
        F.round(F.min("clipped"), 2).alias("min_clipped"),
        F.round(F.max("clipped"), 2).alias("max_clipped"),
    )


_E5_WINSORIZE_ORACLE = """
WITH cuts AS (
  SELECT o_orderpriority,
         quantile_cont(o_totalprice, 0.05) AS lo,
         quantile_cont(o_totalprice, 0.95) AS hi
  FROM orders GROUP BY 1
), w AS (
  SELECT o.o_orderpriority,
         least(greatest(o.o_totalprice, c.lo), c.hi) AS clipped
  FROM orders o JOIN cuts c USING (o_orderpriority)
)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(clipped) AS DOUBLE), 2) AS sum_clipped,
       round(CAST(min(clipped) AS DOUBLE), 2) AS min_clipped,
       round(CAST(max(clipped) AS DOUBLE), 2) AS max_clipped
FROM w GROUP BY o_orderpriority
"""


def q_e5_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 profiling: equi-width histogram of order totals per priority
    over EXPLICIT pinned bin edges (agg_ops.histogram — one map-side-
    combined aggregate, ≤ n_bins+2 rows per group, under/overflow bins
    kept so out-of-range mass is visible).  Pinned edges are what make
    day-over-day distribution monitoring comparable."""
    orders = load_table(spark, sf_dir, "orders")
    return agg_ops.histogram(
        orders, "o_totalprice", 0.0, 600000.0, 24, keys=["o_orderpriority"]
    )


_E5_HISTOGRAM_ORACLE = """
WITH b AS (
  SELECT o_orderpriority,
         CASE WHEN floor((o_totalprice - 0.0) / 25000.0) < 0 THEN -1
              WHEN floor((o_totalprice - 0.0) / 25000.0) >= 24 THEN 24
              ELSE CAST(floor((o_totalprice - 0.0) / 25000.0) AS BIGINT)
         END AS bin
  FROM orders WHERE o_totalprice IS NOT NULL
)
SELECT o_orderpriority, CAST(bin AS BIGINT) AS bin,
       round(0.0 + bin * 25000.0, 6) AS bin_lo,
       CAST(count(*) AS BIGINT) AS n
FROM b GROUP BY o_orderpriority, bin
"""


def q_e5_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bound-check oracle: count-min-sketch heavy hitters as a RELATIONAL
    table (sketches.cms_table — (layer,bucket,cnt) rows, no opaque binary,
    no UDF; shuffle bounded at depth*width rows by map-side combine;
    mergeable across batches by summing cnt).  The top-25 exact words probe
    the sketch via a broadcast join; CMS guarantees est >= exact always
    and est <= exact + eps*N w.h.p. (eps = e/width).  Both bounds are
    deterministic for a given input + hash family, so emit them as
    booleans the DuckDB oracle asserts TRUE (the q_e5_approx_distinct
    strategy).  Reference capability: frequency/heavy-hitter audit without
    a full word shuffle — at 100 TB the sketch is ~40 KB per batch."""
    from dataengineer_spark.operators import sketches
    from dataengineer_spark.operators.preparation import explode_words, word_counts

    docs = _docs(spark, sf_dir)
    words = explode_words(docs.select("text"), "text")
    cms = sketches.cms_table(words, "word", depth=5, width=4096)
    exact = word_counts(docs, "text", top_n=25)
    est = sketches.cms_estimate(cms, exact, "word", depth=5, width=4096)
    total = words.agg(F.count("*").alias("_n_words"))
    return (
        est.crossJoin(F.broadcast(total))
        .select(
            "word",
            "n",
            (F.col("est") >= F.col("n")).alias("lower_ok"),
            (
                F.col("est")
                <= F.col("n") + F.ceil(F.col("_n_words") * F.lit(2.718 / 4096))
            ).alias("upper_ok"),
        )
    )


_E5_CMS_TOPK_ORACLE = r"""
SELECT word, CAST(count(*) AS BIGINT) AS n, TRUE AS lower_ok, TRUE AS upper_ok
FROM (
  SELECT unnest(regexp_split_to_array(
    regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+')) AS word
  FROM documents
) GROUP BY word ORDER BY n DESC, word LIMIT 25
"""



# ---------------------------------------------------------------------------
# training-data preparation (splits, quotas, word counts, grouped-map UDF)
# ---------------------------------------------------------------------------


_SQL_API_TEXT = """
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(o.o_totalprice) AS DOUBLE), 2) AS total_price
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'MACHINERY'
GROUP BY o.o_orderpriority
"""


def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 at full strength: the identical ANSI SQL the oracle runs,
    executed by Spark's SQL front-end over registered views — both API
    surfaces (DataFrame + SQL) reach the same Catalyst plans."""
    from dataengineer_spark.testdata import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_API_TEXT)


def q_e4_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 fuzzy matching: levenshtein over 40-char prefixes of adjacent-id
    document pairs — the JVM edit-distance primitive near-dup pipelines
    use for final verification of candidate pairs."""
    docs = _docs(spark, sf_dir)
    a = docs.select(
        F.col("doc_id").alias("id_a"), F.substring("text", 1, 40).alias("pa")
    )
    b = docs.select(
        F.col("doc_id").alias("id_b"), F.substring("text", 1, 40).alias("pb")
    )
    return (
        a.join(b, a.id_a + 1 == b.id_b)
        .select(
            "id_a", "id_b", F.levenshtein("pa", "pb").cast("bigint").alias("edit_dist")
        )
    )


_E4_EDIT_ORACLE = """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(substring(a.text, 1, 40), substring(b.text, 1, 40)) AS BIGINT)
         AS edit_dist
FROM documents a JOIN documents b ON a.doc_id + 1 = b.doc_id
"""


_M1_ORACLE = """
WITH h AS (
  SELECT doc_id,
    coalesce(list_sum(list_transform(
      list_filter(string_split(substr(text, 1, 64), ''), c -> c <> ''),
      c -> unicode(c))), 0) AS h
  FROM documents
)
SELECT doc_id,
  'LABEL_' || CAST(h % 16 AS VARCHAR) AS predicted_label,
  CAST(h % 1000 AS DOUBLE) / 1000.0 AS model_score
FROM h
"""


_M2_ORACLE = r"""
WITH t AS (
  SELECT doc_id, text,
    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
  FROM documents
), p AS (
  SELECT doc_id, text, toks, len(toks) AS n,
    list_position(list_transform(toks, x -> lower(x)), 'the') AS p_subj,
    list_position(list_transform(toks, x -> lower(x)), 'is') AS p_act
  FROM t
)
SELECT doc_id,
  CASE WHEN text IS NULL OR text = '' THEN NULL
       WHEN p_subj > 0 AND p_subj < n THEN toks[p_subj + 1]
       ELSE '' END AS subject,
  CASE WHEN text IS NULL OR text = '' THEN NULL
       WHEN p_act > 0 AND p_act < n THEN toks[p_act + 1]
       ELSE '' END AS action
FROM p
"""


def q_m1_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 transformer-classification surface over the REAL
    Arrow-batched iterator pandas_udf path (per-executor model cache) with
    the deterministic fake model — swap 'fake:' for a model path and the
    plan is production inference."""
    from dataengineer_spark.ml import transformer_classifier

    docs = _docs(spark, sf_dir)
    clf = transformer_classifier("fake:dxgroup", "fake:tok", num_labels=16)
    return docs.select("doc_id", clf(F.col("text")).alias("pred")).select(
        "doc_id", "pred.predicted_label", "pred.model_score"
    )


def q_m2_qa_sectionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 QA-sectionizer surface — one UDF call per batch
    answers every question (text crosses Arrow once, not once per
    section), fake QA model."""
    from dataengineer_spark.ml import qa_sectionizer

    docs = _docs(spark, sf_dir)
    qa = qa_sectionizer(
        "fake:longformer", "fake:tok",
        {"subject": "What comes after the?", "action": "What comes after is?"},
    )
    return docs.select("doc_id", qa(F.col("text")).alias("s")).select(
        "doc_id", "s.subject", "s.action"
    )


def q_dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit: named constraint violation counts in ONE scan
    (conditional sums, then an unpivot of the audit-sized result)."""
    from dataengineer_spark.operators import quality

    li = load_table(spark, sf_dir, "lineitem")
    return quality.constraint_report(
        li,
        {
            "qty_positive": F.col("l_quantity") <= 0,
            "price_nonneg": F.col("l_extendedprice") < 0,
            "discount_unit_range": ~F.col("l_discount").between(0.0, 1.0),
            "returnflag_domain": ~F.col("l_returnflag").isin("A", "N", "R"),
        },
    )


_DQ_CONSTRAINTS_ORACLE = """
WITH w AS (
  SELECT count(*) AS total,
         sum(CASE WHEN NOT (l_quantity > 0) THEN 1 ELSE 0 END) AS qty_positive,
         sum(CASE WHEN l_extendedprice < 0 THEN 1 ELSE 0 END) AS price_nonneg,
         sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END)
             AS discount_unit_range,
         sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END)
             AS returnflag_domain
  FROM lineitem
)
SELECT c.check_name, c.violations, CAST(w.total AS BIGINT) AS total_rows
FROM w, LATERAL (VALUES
  ('qty_positive', CAST(w.qty_positive AS BIGINT)),
  ('price_nonneg', CAST(w.price_nonneg AS BIGINT)),
  ('discount_unit_range', CAST(w.discount_unit_range AS BIGINT)),
  ('returnflag_domain', CAST(w.returnflag_domain AS BIGINT))
) AS c(check_name, violations)
"""


def q_dq_null_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.operators import quality

    docs = load_table(spark, sf_dir, "documents")
    return quality.null_rates(docs, ["text", "lang", "source"])


_DQ_NULLS_ORACLE = """
WITH w AS (
  SELECT count(*) AS total,
         sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS text_n,
         sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS lang_n,
         sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS source_n
  FROM documents
)
SELECT c.column_name, c.n_null, round(c.n_null / w.total, 6) AS null_rate
FROM w, LATERAL (VALUES
  ('text', CAST(w.text_n AS BIGINT)),
  ('lang', CAST(w.lang_n AS BIGINT)),
  ('source', CAST(w.source_n AS BIGINT))
) AS c(column_name, n_null)
"""


def q_dq_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential integrity: lineitem rows whose order key has no parent
    order (keys-only anti join), reported as a count."""
    from dataengineer_spark.operators import quality

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    return quality.orphan_rows(li, orders, "l_orderkey", "o_orderkey").agg(
        F.count("*").alias("n_orphans")
    )


_DQ_ORPHANS_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_orphans
FROM lineitem l
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
"""


def q_prep_sample_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language eval-set sample: md5-ranked top-20."""
    from dataengineer_spark.operators.preparation import sample_n_per_group

    docs = load_table(spark, sf_dir, "documents")
    out = sample_n_per_group(docs, ["lang"], "doc_id", 20, salt="eval")
    return out.select("doc_id", "lang")


_PREP_SAMPLE_ORACLE = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
             ORDER BY md5(CAST(doc_id AS VARCHAR) || 'eval'), doc_id) AS rn
  FROM documents
) WHERE rn <= 20
"""


def q_prep_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.operators.preparation import train_test_split

    docs = load_table(spark, sf_dir, "documents")
    tagged = train_test_split(docs, "doc_id", train_pct=80, valid_pct=10)
    return tagged.groupBy("split").agg(F.count("*").alias("n"))


_PREP_SPLIT_ORACLE = f"""
WITH t AS (
  SELECT CASE WHEN (doc_id * {2654435761}) % 100 < 80 THEN 'train'
              WHEN (doc_id * {2654435761}) % 100 < 90 THEN 'valid'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY split
"""


def q_prep_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.operators.preparation import stratified_cap

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_cap(docs, ["lang"], [F.col("doc_id").asc()], 50)


_PREP_STRATIFIED_ORACLE = """
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn <= 50
"""


def q_k5_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-family MERGE: seed a partitioned lake table from one orders slice,
    upsert an overlapping slice (updates + inserts), read the final state.
    Partition-scoped: only the order-year partitions the incoming batch
    touches are read and dynamically overwritten."""
    from dataengineer_spark.catalog import Catalog

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        F.round("o_totalprice", 2).alias("price"),
        F.year("o_orderdate").alias("o_year"),
    )
    cat = Catalog(spark, tempfile.mkdtemp(prefix="spark_graft_merge_"))
    base = orders.where(F.col("o_orderkey") % 100 < 50)
    upd = orders.where(
        (F.col("o_orderkey") % 100 >= 25) & (F.col("o_orderkey") % 100 < 75)
    ).withColumn("price", F.round(F.col("price") + 1000, 2))
    cat.merge_upsert(base, "orders_lake", ["o_orderkey"], partition_col="o_year")
    cat.merge_upsert(upd, "orders_lake", ["o_orderkey"], partition_col="o_year")
    final = cat.read("orders_lake")
    return final.select(
        "o_orderkey", "o_orderstatus", "price", F.col("o_year").cast("int").alias("o_year")
    )


_K5_MERGE_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price,
         CAST(year(o_orderdate) AS INT) AS o_year
  FROM orders WHERE o_orderkey % 100 < 50
), upd AS (
  SELECT o_orderkey, o_orderstatus, round(round(o_totalprice, 2) + 1000, 2) AS price,
         CAST(year(o_orderdate) AS INT) AS o_year
  FROM orders WHERE o_orderkey % 100 >= 25 AND o_orderkey % 100 < 75
)
SELECT * FROM upd
UNION ALL
SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
"""


def q_k6_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension merge (operators/dimensions.scd2_apply): the
    customer dimension snapshot takes an update batch where every third
    key's balance moved (+100) and every (3k+1)th key re-delivers its
    unchanged row.  Changed keys close (valid_to = eff) and open a new
    current version; idempotent re-deliveries are absorbed; history is
    append-only.  One broadcast join against the update batch — the
    write-side companion of the as-of join.  Reference capability: the
    label/model dimensions dx_group.py overwrote in place, here with full
    version history so past batches re-join AS OF their run date."""
    return _scd2_history(spark, sf_dir)


def _scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared SCD2 customer history for the write-side merge query and
    the read-side as-of lookup — ONE builder so the lookup provably
    resolves against the exact history the merge query verifies."""
    from dataengineer_spark.operators.dimensions import scd2_apply

    cust = load_table(spark, sf_dir, "customer")
    dim = cust.select(
        "c_custkey",
        "c_acctbal",
        "c_mktsegment",
        F.to_timestamp(F.lit("1992-01-01")).alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = (
        cust.where(F.col("c_custkey") % 3 == 0)
        .select(
            "c_custkey",
            (F.col("c_acctbal") + F.lit(100.0)).alias("c_acctbal"),
            "c_mktsegment",
            F.to_timestamp(F.lit("1995-06-01")).alias("eff_date"),
        )
        .unionByName(
            cust.where(F.col("c_custkey") % 3 == 1).select(
                "c_custkey",
                "c_acctbal",
                "c_mktsegment",
                F.to_timestamp(F.lit("1995-06-01")).alias("eff_date"),
            )
        )
    )
    out = scd2_apply(dim, updates, ["c_custkey"], ["c_acctbal", "c_mktsegment"])
    # open-ended validity as a far-future sentinel (driver hashing treats
    # NaT != NaT; the high-date close is also the classic SCD2 convention)
    return out.select(
        "c_custkey", "c_acctbal", "c_mktsegment", "valid_from",
        F.coalesce(
            F.col("valid_to"), F.to_timestamp(F.lit("2200-01-01"))
        ).alias("valid_to"),
        "is_current",
    )


_K6_SCD2_ORACLE = """
WITH cur AS (
  SELECT c_custkey, c_acctbal, c_mktsegment,
         TIMESTAMP '1992-01-01' AS valid_from
  FROM customer
), chg AS (
  SELECT * FROM cur WHERE c_custkey % 3 = 0 AND c_acctbal IS NOT NULL
)
SELECT c_custkey, c_acctbal, c_mktsegment, valid_from,
       TIMESTAMP '2200-01-01' AS valid_to, TRUE AS is_current
FROM cur WHERE c_custkey NOT IN (SELECT c_custkey FROM chg)
UNION ALL
SELECT c_custkey, c_acctbal, c_mktsegment, valid_from,
       TIMESTAMP '1995-06-01' AS valid_to, FALSE AS is_current
FROM chg
UNION ALL
SELECT c_custkey, c_acctbal + 100.0, c_mktsegment,
       TIMESTAMP '1995-06-01' AS valid_from,
       TIMESTAMP '2200-01-01' AS valid_to, TRUE AS is_current
FROM chg
"""


def q_k6_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 read side — point-in-time (as-of) dimension resolution
    (dimensions.scd2_lookup): every order joins the customer-dimension
    VERSION valid at its order date, so 1995-H1 orders see the original
    balance and later orders see the +100 version for changed keys.
    Broadcast hash join on the key with the validity interval as a
    post-join filter; the fact table never shuffles.  The read-side
    companion of q_k6_scd2 (same history via one shared builder)."""
    from dataengineer_spark.operators.dimensions import scd2_lookup

    hist = _scd2_history(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("c_custkey"),
        "o_orderdate",
    )
    return scd2_lookup(
        orders, hist, ["c_custkey"], "o_orderdate"
    ).orderBy("o_orderkey")


_K6_SCD2_LOOKUP_ORACLE = """
WITH hist AS (
""" + _K6_SCD2_ORACLE + """
)
SELECT o.o_orderkey, o.o_custkey AS c_custkey, o.o_orderdate,
       h.c_acctbal, h.c_mktsegment
FROM orders o LEFT JOIN hist h
  ON h.c_custkey = o.o_custkey
 AND o.o_orderdate >= h.valid_from AND o.o_orderdate < h.valid_to
ORDER BY o.o_orderkey
"""


def q_e11_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with bounded state: the events stream unioned with
    itself (every event arrives twice) → dropDuplicatesWithinWatermark on
    event_id emits each exactly once — the result equals the source table,
    which IS the oracle. Append mode; state bounded by the watermark."""
    from dataengineer_spark.streaming import (
        stream_dedup,
        stream_events,
        stream_runtime_session,
    )
    # stateful run: child session with input-derived state width +
    # no-data finalizing batch skipped (results partition-count- and
    # no-data-batch-invariant; see stream_runtime_session docstring)
    spark = stream_runtime_session(spark, sf_dir + "/events.parquet")

    s1 = stream_events(spark, sf_dir + "/events.parquet")
    s2 = stream_events(spark, sf_dir + "/events.parquet")
    dd = stream_dedup(s1.union(s2), ["event_id"], watermark="10 minutes")
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        dd.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
    )


_E11_STREAM_DEDUP_ORACLE = """
SELECT event_id, user_id, event_type, round(value, 6) AS value FROM events
"""


def q_e2_cluster_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 end-to-end cluster collapse: candidate pairs (same token-count
    bucket, word-3-gram Jaccard ≥ 1/2 tested as 2·|I| ≥ |U| — integer
    arithmetic, no float threshold to straddle engines) → connected
    components → (doc_id, cluster_id). This is the oracle-checkable stand-in
    for the scale path minhash_lsh_pairs → connected_components →
    cluster_dedup (rows-only); the oracle computes the same components with
    a recursive CTE.  Guarded like the other exact baselines (VERDICT r8
    item 2): refuses when the blocked pair workload passes
    ``dedup.QUADRATIC_PAIR_LIMIT`` — the bench/oracle corpora fit with
    headroom; past it the answer is the LSH scale path, not a silent
    quadratic."""
    from dataengineer_spark.operators.dedup import (
        connected_components, guard_bucket_quadratic, word_shingles,
    )

    # fan_out BEFORE the bucket self-join (round-11): the single-file
    # local scan is ONE partition, and since the build side broadcasts,
    # the probe side's partitioning is what the in-bucket pair compare
    # runs on — unfanned, all ~693k intersects executed on one task
    # (measured 17.2 s for the pair stage alone; fanned it spreads
    # across every core).  Structural no-op at production split counts,
    # the standard fan_out contract.
    docs = fan_out(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    # verify on HASHED shingles: the bucket join compares every in-bucket
    # pair, so the intersect runs millions of times — int64 arrays cut
    # that ~2× vs shingle strings, and |U| = |A|+|B|−|I| (distinct
    # arrays) drops the array_union pass entirely: 2|I| ≥ |U| ⟺
    # 3|I| ≥ |A|+|B|.  Set SIZES are hash-invariant, so the pair set —
    # and the oracle's recursive-CTE components — are unchanged.
    sh = docs.select(
        "doc_id",
        F.array_distinct(
            F.transform(word_shingles(F.col("text"), 3), lambda s: F.xxhash64(s))
        ).alias("_sh"),
        F.floor(textops.token_count(F.col("text")) / 5).alias("_bk"),
    )
    guard_bucket_quadratic(sh, "_bk", "minhash_lsh_pairs + connected_components")
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("_sh").alias("_sa"), "_bk")
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("_sh").alias("_sb"), "_bk")
    pairs = (
        a.join(b, "_bk")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.size(F.array_intersect("_sa", "_sb")) * 3
            >= F.size("_sa") + F.size("_sb")
        )
        .select("id_a", "id_b")
    )
    cc = connected_components(pairs)
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


_E2_CLUSTER_ORACLE = """
WITH RECURSIVE
w AS (
  SELECT doc_id,
    regexp_split_to_array(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+') AS words,
    regexp_replace(text, '^\\s+|\\s+$', '', 'g') AS t
  FROM documents
), s AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, greatest(len(words) - 2, 1) + 1),
        i -> array_to_string(list_slice(words, i, i + 2), ' '))) AS sh,
    CAST(floor((CASE WHEN t = '' THEN 0 ELSE len(words) END) / 5) AS BIGINT) AS bk
  FROM w
), pairs AS (
  SELECT x.doc_id AS pa, y.doc_id AS pb
  FROM s x JOIN s y ON x.bk = y.bk AND x.doc_id < y.doc_id
  WHERE 2 * len(list_intersect(x.sh, y.sh))
        >= len(list_distinct(list_concat(x.sh, y.sh)))
), nodes AS (
  SELECT DISTINCT pa AS n FROM pairs UNION SELECT DISTINCT pb FROM pairs
), edges AS (
  SELECT pa AS a, pb AS b FROM pairs UNION ALL SELECT pb, pa FROM pairs
), reach(node, lab) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT e.a, r.lab FROM edges e JOIN reach r ON r.node = e.b
)
SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
"""


def q_e2_neardup_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup dedup chain end to end — xxhash64 MinHash+LSH
    candidate pairs → exact-Jaccard verify → connected components → one
    survivor per cluster (min id).  ORACLED: DuckDB replays the shingle
    hashes (``_duck_minhash(family="xxhash64")``), the bands, the verify
    and the component collapse (recursive min-label CTE)."""
    from dataengineer_spark.operators.dedup import cluster_dedup, minhash_lsh_pairs
    from dataengineer_spark.tuning import carry_lifetime

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    raw = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    pairs = carry_lifetime(raw.select("id_a", "id_b"), raw)
    return carry_lifetime(
        cluster_dedup(docs, pairs, "doc_id").select("doc_id"), pairs
    )


def q_e4_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — Gopher-style repetition quality signals (map-only HOFs).

    fan_out (round-11 opt): the line/bigram HOF chain is CPU-bound map
    work, and the single-row-group local scan otherwise runs it on ONE
    task (isolated A/B: 1.43 -> 0.52 s; structural no-op at production
    split counts)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return textops.repetition_signals(docs).drop("text")


# whitespace-trim + lowercase + split, shared by the repetition/contamination
# oracles (mirrors textops.trim_ws + split exactly)
_SQL_WORDS = (
    "regexp_split_to_array(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'),"
    " '\\s+')"
)
_SQL_T = "regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g')"

_E4_REPETITION_ORACLE = f"""
WITH sig AS (
  SELECT doc_id,
    list_filter(string_split(text, chr(10)),
                x -> regexp_replace(x, '^\\s+|\\s+$', '', 'g') <> '') AS lines,
    {_SQL_WORDS} AS words, {_SQL_T} AS t
  FROM documents
), big AS (
  SELECT doc_id, lines,
    CASE WHEN t = '' OR len(words) < 2 THEN []
         ELSE list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i+1])
    END AS bg
  FROM sig
), top AS (
  SELECT doc_id, max(c) AS top_count FROM (
    SELECT doc_id, b, count(*) AS c
    FROM (SELECT doc_id, unnest(bg) AS b FROM big)
    GROUP BY doc_id, b
  ) GROUP BY doc_id
)
SELECT big.doc_id,
  CASE WHEN len(lines) > 0
       THEN 1 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines)
       ELSE 0.0 END AS dup_line_frac,
  CASE WHEN len(bg) > 0
       THEN CAST(top.top_count AS DOUBLE) / len(bg)
       ELSE 0.0 END AS top_bigram_share
FROM big LEFT JOIN top ON big.doc_id = top.doc_id
"""


def q_prep_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 — sequence packing into fixed token-budget bins (bucketed
    windows: no global sort at any scale)."""
    from dataengineer_spark.operators.preparation import pack_sequences

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return pack_sequences(docs, "doc_id", "n_chars", budget=20000, n_buckets=64)


_PREP_PACK_ORACLE = """
WITH b AS (
  SELECT doc_id, n_chars, ((doc_id * 2654435761) % 64 + 64) % 64 AS bucket
  FROM documents
)
SELECT doc_id, n_chars,
  CAST(bucket AS BIGINT) * 4294967296 + CAST(floor(COALESCE(
    sum(n_chars) OVER (PARTITION BY bucket ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
    / 20000) AS BIGINT) AS pack_id
FROM b
"""


def q_prep_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 — deterministic per-domain mixture sampling (map-side filter)."""
    from dataengineer_spark.operators.preparation import mixture_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return mixture_sample(
        docs, "doc_id", "lang", {"en": 0.8, "zh": 0.25}, default_rate=0.5
    )


_PREP_MIXTURE_ORACLE = """
-- salt 7919 = preparation.MIXTURE_SALT (domain separation from the
-- split hash)
SELECT doc_id, lang, source FROM documents
WHERE ((doc_id * 2654435761 + 7919) % 100000 + 100000) % 100000 <
      CASE WHEN lang = 'en' THEN 80000
           WHEN lang = 'zh' THEN 25000
           ELSE 50000 END
"""


def q_prep_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 — benchmark-contamination audit: word-8-gram overlap between
    the corpus and a deterministic stand-in benchmark subset."""
    from dataengineer_spark.operators.preparation import ngram_overlap

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return ngram_overlap(docs, bench, "text", "doc_id", n=8)


_PREP_CONTAMINATION_ORACLE = f"""
WITH g AS (
  SELECT doc_id,
    CASE WHEN {_SQL_T} = '' OR len({_SQL_WORDS}) < 8 THEN []
         ELSE list_transform(range(1, len({_SQL_WORDS}) - 6),
              i -> array_to_string(list_slice({_SQL_WORDS}, i, i + 7), ' '))
    END AS grams
  FROM documents
), bench AS (
  SELECT DISTINCT unnest(grams) AS bg FROM g WHERE doc_id % 97 = 0
), hits AS (
  SELECT g.doc_id, count(DISTINCT u.g) AS n_hits
  FROM g, unnest(g.grams) AS u(g)
  JOIN bench ON u.g = bench.bg
  GROUP BY g.doc_id
)
SELECT g.doc_id, CAST(len(g.grams) AS INTEGER) AS n_grams,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id
"""


def q_prep_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16 weighted selection: probability-proportional-to-size systematic
    sample of 50 documents by character mass (pps_systematic_sample —
    distributed integer prefix sum via range partition + broadcast
    offsets, selection by pure integer threshold crossings).  Unlike
    df.sample the result is bit-for-bit reproducible on any engine, which
    is exactly what the DuckDB oracle asserts."""
    from dataengineer_spark.operators.preparation import pps_systematic_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return pps_systematic_sample(docs, "doc_id", "n_chars", n=50)


_PREP_PPS_ORACLE = """
WITH w AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents WHERE n_chars > 0
), t AS (
  SELECT sum(w) AS total FROM w
), c AS (
  SELECT doc_id, w, sum(w) OVER (ORDER BY doc_id) AS cum FROM w
)
SELECT c.doc_id, c.w AS weight
FROM c, t
WHERE (c.cum * 50) // t.total > ((c.cum - c.w) * 50) // t.total
"""


def q_prep_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E18 scale path: benchmark decontamination with the benchmark side
    compressed to a Bloom BITSET (preparation.bloom_contamination — the
    distinct bit positions as a relational table, ≤ 2^18 rows of one long
    however large the suite; the cms_table trick applied to membership).
    One-sided error: every exactly-contaminated gram is flagged.  The
    oracle is the exact contamination SQL plus that guarantee as a
    boolean — n_bloom_hits >= n_exact_hits per document, asserted TRUE."""
    from dataengineer_spark.operators.preparation import (
        bloom_exact_contamination,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    # fused bloom+exact pass (round-11): row-identical to
    # bloom_contamination ⋈ ngram_overlap on doc_id, one corpus scan and
    # one corpus-wide join fewer (see the operator docstring)
    return bloom_exact_contamination(docs, bench, "text", "doc_id", n=8)


_PREP_BLOOM_ORACLE = f"""
WITH g AS (
  SELECT doc_id,
    CASE WHEN {_SQL_T} = '' OR len({_SQL_WORDS}) < 8 THEN []
         ELSE list_transform(range(1, len({_SQL_WORDS}) - 6),
              i -> array_to_string(list_slice({_SQL_WORDS}, i, i + 7), ' '))
    END AS grams
  FROM documents
), bench AS (
  SELECT DISTINCT unnest(grams) AS bg FROM g WHERE doc_id % 97 = 0
), hits AS (
  SELECT g.doc_id, count(DISTINCT u.g) AS n_hits
  FROM g, unnest(g.grams) AS u(g)
  JOIN bench ON u.g = bench.bg
  GROUP BY g.doc_id
)
SELECT g.doc_id, CAST(len(g.grams) AS INTEGER) AS n_grams,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated,
       TRUE AS no_false_neg
FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id
"""


def q_e11_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11 × E16: decontamination AS DATA LANDS — the documents stream is
    audited against the broadcast benchmark gram set (one-row static
    side, stream-static equi-join on a constant key). MAP-ONLY streaming:
    no state store, no watermark, append mode; per-event cost is
    O(grams) forever. Oracle: the batch contamination SQL — stream and
    batch agree row-for-row on the same data (the Dataflow-model claim,
    checked for the n-gram audit)."""
    from dataengineer_spark.operators.preparation import word_ngrams
    from dataengineer_spark.streaming import (
        stream_contamination,
        stream_documents,
    )

    docs_batch = load_table(spark, sf_dir, "documents")
    bench = (
        docs_batch.where(F.col("doc_id") % 97 == 0)
        .select(F.explode(word_ngrams(F.col("text"), 8)).alias("_g"))
        .dropDuplicates()
        .agg(F.collect_set("_g").alias("_bg"))
    )
    s = stream_documents(spark, sf_dir + "/documents.parquet")
    out = stream_contamination(s, bench, n=8)
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "doc_id", "n_grams", "n_hits", "contaminated"
    )


def q_prep_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.operators.preparation import word_counts

    docs = _docs(spark, sf_dir)
    return word_counts(docs, "text", top_n=30)


def q_prep_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16 chunking: 32-token sliding windows with 8-token overlap over
    every document — the sequence-prep / retrieval-indexing step between
    cleaning and tokenization. Map-only (no shuffle at any size)."""
    from dataengineer_spark.operators.preparation import chunk_documents

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return chunk_documents(docs, chunk_tokens=32, overlap=8).select(
        F.col("id").alias("doc_id"),
        "chunk_id",
        "start_token",
        "n_tokens",
        "chunk_text",
    )


_PREP_CHUNK_ORACLE = r"""
WITH d AS (
  SELECT doc_id,
         regexp_split_to_array(
           regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') AS w
  FROM documents
  WHERE length(regexp_replace(lower(text), '^\s+|\s+$', '', 'g')) > 0
), s AS (
  SELECT doc_id, w, len(w) AS n,
         list_filter(generate_series(1, greatest(len(w), 1), 24),
                     s -> s = 1 OR s - 24 + 31 < len(w)) AS starts
  FROM d
)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_id,
       CAST(starts[i] AS BIGINT) AS start_token,
       CAST(least(n - starts[i] + 1, 32) AS BIGINT) AS n_tokens,
       array_to_string(w[starts[i]:least(starts[i] + 31, n)], ' ')
         AS chunk_text
FROM (
  SELECT doc_id, w, n, starts,
         unnest(generate_series(1, len(starts))) AS i
  FROM s
)
"""


_PREP_WORDCOUNT_ORACLE = """
SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT unnest(regexp_split_to_array(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) AS word
  FROM documents
) GROUP BY word ORDER BY n DESC, word LIMIT 30
"""


def q_e12_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E12 grouped-map surface: per-language centering via applyInPandas."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")

    def demean(pdf: "pd.DataFrame") -> "pd.DataFrame":
        out = pdf[["doc_id", "lang"]].copy()
        out["centered"] = pdf["n_chars"] - pdf["n_chars"].mean()
        return out

    return docs.groupBy("lang").applyInPandas(
        demean, "doc_id long, lang string, centered double"
    ).select("doc_id", "lang", F.round("centered", 6).alias("centered"))


_E12_GROUPED_ORACLE = """
SELECT doc_id, lang,
       round(n_chars - avg(n_chars) OVER (PARTITION BY lang), 6) AS centered
FROM documents
"""


# ---------------------------------------------------------------------------
# composite analytical queries (TPC-H-shaped)
# ---------------------------------------------------------------------------


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.plans.analytics import q3_shipping_priority

    return q3_shipping_priority(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


_TPCH_Q3_ORACLE = """
SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
       round(CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, o_orderkey LIMIT 10
"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.plans.analytics import q5_local_supplier_volume

    return q5_local_supplier_volume(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


_TPCH_Q5_ORACLE = """
SELECT n.n_name,
       round(CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND c.c_nationkey = s.s_nationkey
GROUP BY n.n_name
"""


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.plans.analytics import q10_returned_items

    return q10_returned_items(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "nation"),
    )


_TPCH_Q10_ORACLE = """
SELECT c.c_custkey, c.c_name, n.n_name,
       round(CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


# ---------------------------------------------------------------------------
# batch lifecycle over the lake (K1 + O6 in one oracle-checked query)
# ---------------------------------------------------------------------------


def q_o6_batch_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.batch import stamp_batch
    from dataengineer_spark.catalog import Catalog

    lake = tempfile.mkdtemp(prefix="spark_graft_lc_")
    catalog = Catalog(spark, lake)
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("msgid"), F.col("text").alias("msg")
    )
    catalog.write(stamp_batch(docs.where(F.col("msgid") < 250), 1), "cleaned_data")
    catalog.write(stamp_batch(docs.where(F.col("msgid") >= 250), 2), "cleaned_data")
    # downstream read = partition-pruned scan of one batch directory
    return catalog.read_batch("cleaned_data", 2).select("batch_id", "msgid")


_O6_ORACLE = """
SELECT CAST(2 AS BIGINT) AS batch_id, doc_id AS msgid
FROM documents WHERE doc_id >= 250
"""


# ---------------------------------------------------------------------------
# embedding near-dup, extended text analysis, grouping sets, UDAF, Q6/Q18,
# CSV round-trip, stateful streaming
# ---------------------------------------------------------------------------


def q_e2_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 embedding-cosine near-dup — exact all-pairs baseline (oracle-able);

    the LSH-bucketed scale path is q_e2_embed_lsh_neardup."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    pairs = sim_ops.brute_force_neardup_pairs(emb, threshold=0.45)
    return pairs.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


_E2_EMBED_ORACLE = """
WITH v AS (
  SELECT vec_id, embedding AS e,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_sum(list_transform(range(1, 65),
             i -> CAST(a.e[i] AS DOUBLE) * CAST(b.e[i] AS DOUBLE)))
             / (a.nrm * b.nrm), 6) AS cos_sim
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE list_sum(list_transform(range(1, 65),
      i -> CAST(a.e[i] AS DOUBLE) * CAST(b.e[i] AS DOUBLE))) / (a.nrm * b.nrm) >= 0.45
"""


def q_e2_embed_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-bucketed embedding near-dup — ORACLED: the seeded
    hyperplanes are plan literals, so the oracle inlines the same floats
    and replicates buckets, the bucket self-join, and the cosine verify
    (sequential folds give bit-identical doubles in both engines)."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    return sim_ops.embedding_neardup_pairs(emb, threshold=0.4, n_planes=4).select(
        "id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim")
    )


def _embed_lsh_oracle() -> str:
    from dataengineer_spark.operators.similarity import _hyperplanes

    dim, n_planes, threshold = 64, 4, 0.4
    planes = _hyperplanes(dim, n_planes, seed=42)

    def dot_sql(vec_a: str, vec_b_literal_or_col: str) -> str:
        return (
            "list_reduce(list_transform(generate_series(1, 64), "
            f"j -> {vec_a}[j] * {vec_b_literal_or_col}[j]), (a, b) -> a + b)"
        )

    plane_lits = [
        "[" + ", ".join(repr(x) for x in p) + "]" for p in planes
    ]
    bucket = " + ".join(
        f"(CASE WHEN {dot_sql('v', plane_lits[i])} > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), bk AS (
  SELECT vec_id, v,
    {bucket} AS bucket,
    sqrt(list_reduce(list_transform(generate_series(1, 64),
      j -> v[j] * v[j]), (a, b) -> a + b)) AS nrm
  FROM e
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    CASE WHEN a.nrm * b.nrm > 0 THEN
      list_reduce(list_transform(generate_series(1, 64),
        j -> a.v[j] * b.v[j]), (x, y) -> x + y) / (a.nrm * b.nrm)
    END AS cos_sim
  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(cos_sim, 6) AS cos_sim
FROM pairs WHERE cos_sim >= {threshold}
"""


def q_e4_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id", F.round(textops.quality_score(F.col("text")), 6).alias("quality")
    )


_E4_QUALITY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, length(text) AS n,
         CASE WHEN length(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) = 0 THEN 0
              ELSE len(regexp_split_to_array(regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END AS toks,
         length(regexp_replace(text, '{textops.PUNCT_NEGATED}', '', 'g')) AS punct,
         len(regexp_split_to_array(lower(text),
             '\\b(?:the|and|of|to|a|in|is|it)\\b')) - 1 AS stop_hits
  FROM documents
)
SELECT doc_id, round((
    (CASE WHEN n >= 100 AND n <= 20000 THEN 1.0 WHEN n > 0 THEN 0.5 ELSE 0.0 END)
  + (CASE WHEN n = 0 THEN 0.0 WHEN punct / n < 0.1 THEN 1.0 ELSE 0.5 END)
  + (CASE WHEN toks = 0 THEN 0.0 WHEN stop_hits / toks > 0.05 THEN 1.0 ELSE 0.5 END)
) / 3.0, 6) AS quality
FROM t
"""


def q_e4_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        textops.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        textops.subword_count(F.col("text")).alias("n_subwords"),
    )


_E4_TOKENS_ORACLE = r"""
SELECT doc_id,
       CAST(CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN 0
            ELSE len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) END AS BIGINT) AS n_tokens,
       CAST(list_sum(list_transform(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'),
            w -> CAST(ceil(length(regexp_replace(w, '[^\p{L}\p{N}]', '', 'g')) / 4.0) AS BIGINT)
                 + length(regexp_replace(w, '[\p{L}\p{N}\s]', '', 'g')))) AS BIGINT) AS n_subwords
FROM documents
"""


def q_e5_groupingsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return agg_ops.grouping_sets_agg(
        li,
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        ["l_returnflag", "l_linestatus"],
        [F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")],
    )


_E5_GSETS_ORACLE = """
SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


def q_e12_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E12 UDAF surface: grouped-agg pandas_udf (Arrow batch per group)."""

    @F.pandas_udf("double")
    def mean_chars(v: "pd.Series") -> float:
        return float(v.mean())

    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.round(mean_chars("n_chars"), 6).alias("avg_chars")
    )


_E12_UDAF_ORACLE = """
SELECT lang, round(avg(n_chars), 6) AS avg_chars FROM documents GROUP BY lang
"""


def q_e12_apply_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E12 breadth — Spark 4 ``applyInArrow``: grouped map straight on
    pyarrow Tables, skipping the pandas materialization entirely (the
    zero-copy lane for columnar per-group logic). Per-language doc-length
    stats; integer sums so the oracle compare is float-free."""
    import pyarrow as pa

    def stats(table: "pa.Table") -> "pa.Table":
        import pyarrow.compute as pc

        return pa.table(
            {
                "lang": [table.column("lang")[0].as_py()],
                "n_docs": [table.num_rows],
                "total_chars": [pc.sum(table.column("n_chars")).as_py()],
                "max_chars": [pc.max(table.column("n_chars")).as_py()],
            }
        )

    docs = load_table(spark, sf_dir, "documents").select("lang", "n_chars")
    return docs.groupBy("lang").applyInArrow(
        stats, schema="lang string, n_docs long, total_chars long, max_chars long"
    )


_E12_APPLY_ARROW_ORACLE = """
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY lang
"""


def q_e12_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E12 breadth — Spark 4 Python UDTF (table function): one input row
    → many output rows through a LATERAL join, the set-returning
    complement of the scalar/grouped pandas UDF surface. Arrow-optimized
    (plans as ArrowEvalPythonUDTF — the no-row-Python audit applies to
    UDTFs too). Python's ``str.split()`` ≡ split on ``\\s+`` after trim,
    mirrored exactly by the oracle's regexp tokenizer."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, wlen: int", useArrow=True)
    class WordLens:
        def eval(self, text: str):
            for w in (text or "").split():
                yield w, len(w)

    spark.udtf.register("q_e12_word_lens", WordLens)
    docs = _docs(spark, sf_dir).where(F.col("doc_id") % 10 == 0)
    docs.select("doc_id", "text").createOrReplaceTempView("q_e12_udtf_docs")
    return spark.sql(
        "SELECT doc_id, t.word, t.wlen "
        "FROM q_e12_udtf_docs, LATERAL q_e12_word_lens(text) t"
    )


_E12_UDTF_ORACLE = r"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(
           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS arr
  FROM documents WHERE doc_id % 10 = 0
), w AS (
  SELECT doc_id, unnest(arr) AS word FROM d
)
SELECT doc_id, word, CAST(length(word) AS INT) AS wlen
FROM w WHERE length(word) > 0
"""


def q_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType path over the events JSON props: parse once
    into the binary variant encoding, then typed-lane extraction —
    repeated field reads don't re-parse the JSON text the way chained
    ``get_json_object`` calls do."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    )
    k = F.expr("variant_get(v, '$.k', 'long')")
    return v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.avg(k), 6).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


_JSON_VARIANT_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(avg(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)), 6)
         AS avg_k,
       max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


def q_e12_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E12 higher-order-function surface: transform/filter/aggregate/
    zip_with over array columns — lambda expressions run inside codegen,
    the JVM-side alternative to a Python UDF for per-element array work."""
    emb = load_table(spark, sf_dir, "embeddings")
    as_dbl = F.transform("embedding", lambda x: x.cast("double"))
    sq_norm = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    self_dot = F.aggregate(
        F.zip_with("embedding", "embedding", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0)).cast("bigint").alias("n_pos"),
        F.round(F.aggregate(as_dbl, F.lit(0.0), lambda a, x: a + x), 6).alias("sum_e"),
        F.round(sq_norm, 6).alias("sq_norm"),
        F.round(self_dot - sq_norm, 6).alias("zip_minus_sq"),  # identically 0
    )


_E12_HOF_ORACLE = """
SELECT vec_id,
       CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
       round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS sum_e,
       round(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS sq_norm,
       CAST(0.0 AS DOUBLE) AS zip_minus_sq
FROM embeddings
"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.plans.analytics import q6_forecast_revenue

    return q6_forecast_revenue(load_table(spark, sf_dir, "lineitem"))


_TPCH_Q6_ORACLE = """
SELECT round(CAST(sum(l_extendedprice * l_discount) AS DOUBLE), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.plans.analytics import q18_large_orders

    return q18_large_orders(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


_TPCH_Q18_ORACLE = """
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
       round(CAST(t.total_qty AS DOUBLE), 2) AS total_qty
FROM (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
) t
JOIN orders o ON t.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""




def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.plans.analytics import q12_priority_shipping

    return q12_priority_shipping(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


_TPCH_Q12_ORACLE = """
SELECT l.l_returnflag,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l.l_returnflag
"""


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.plans.analytics import q14_promo_revenue

    return q14_promo_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


_TPCH_Q14_ORACLE = """
SELECT round(CAST(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                  THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE), 6) AS promo_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1996-02-01 00:00:00'
"""


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.plans.analytics import q17_small_quantity_revenue

    return q17_small_quantity_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


_TPCH_Q17_ORACLE = """
SELECT round(CAST(sum(l.l_extendedprice) / 7.0 AS DOUBLE), 2) AS avg_yearly
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity < (
    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = l.l_partkey)
"""


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.plans.analytics import q1_pricing_summary

    return q1_pricing_summary(load_table(spark, sf_dir, "lineitem"))


_TPCH_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
       round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_base_price,
       round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS sum_disc_price,
       round(CAST(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS DOUBLE), 2) AS sum_charge,
       round(CAST(avg(l_quantity) AS DOUBLE), 6) AS avg_qty,
       round(CAST(avg(l_extendedprice) AS DOUBLE), 6) AS avg_price,
       round(CAST(avg(l_discount) AS DOUBLE), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.plans.analytics import q4_order_priority

    return q4_order_priority(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


_TPCH_Q4_ORACLE = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.plans.analytics import q7_nation_volume

    return q7_nation_volume(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


_TPCH_Q7_ORACLE = """
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       round(CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE), 2) AS volume
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation ns ON s.s_nationkey = ns.n_nationkey
JOIN nation nc ON c.c_nationkey = nc.n_nationkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
    OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
"""


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.plans.analytics import q8_market_share

    return q8_market_share(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
        load_table(spark, sf_dir, "part"),
    )


_TPCH_Q8_ORACLE = """
SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
       round(sum(CASE WHEN ns.n_name = 'NATION_2'
                 THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS mkt_share
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation nc ON c.c_nationkey = nc.n_nationkey
JOIN region r ON nc.n_regionkey = r.r_regionkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation ns ON s.s_nationkey = ns.n_nationkey
WHERE p.p_type = 'ECONOMY' AND r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1 ORDER BY 1
"""


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.plans.analytics import q9_product_profit

    return q9_product_profit(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


_TPCH_Q9_ORACLE = """
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
       round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                 - 0.08 * p.p_retailprice * l.l_quantity AS DECIMAL(18,4))) AS DOUBLE), 2) AS sum_profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY 1, 2
"""


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.plans.analytics import q13_customer_distribution

    return q13_customer_distribution(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


_TPCH_Q13_ORACLE = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
  GROUP BY c.c_custkey
) GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.plans.analytics import q15_top_supplier

    return q15_top_supplier(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "supplier")
    )


_TPCH_Q15_ORACLE = """
WITH rev AS (
  SELECT l_suppkey,
         round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, rev.total_revenue
FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
WHERE rev.total_revenue = (SELECT max(total_revenue) FROM rev)
"""


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.plans.analytics import q16_supplier_part_count

    return q16_supplier_part_count(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


_TPCH_Q16_ORACLE = """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_size IN (1, 7, 13, 19, 25, 31, 37, 43)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.plans.analytics import q19_disjunctive_revenue

    return q19_disjunctive_revenue(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


_TPCH_Q19_ORACLE = """
SELECT round(CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE), 2) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 30)
"""


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.plans.analytics import q22_dormant_customers

    return q22_dormant_customers(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


_TPCH_Q22_ORACLE = """
SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
       round(CAST(sum(c_acctbal) AS DOUBLE), 2) AS totacctbal
FROM customer c
WHERE c_nationkey IN (0, 1, 2, 3, 4, 5, 6)
  AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
                   WHERE c_acctbal > 0.0 AND c_nationkey IN (0, 1, 2, 3, 4, 5, 6))
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY c_nationkey ORDER BY c_nationkey
"""


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.plans.analytics import q2_min_cost_supplier

    return q2_min_cost_supplier(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"), load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


_TPCH_Q2_ORACLE = """
WITH cost AS (
  SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal, n.n_name,
         min(l.l_extendedprice / l.l_quantity) AS supply_cost
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_size = 19 AND p.p_type = 'LARGE'
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
  GROUP BY p.p_partkey, p.p_name, s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       round(supply_cost, 4) AS supply_cost
FROM cost c
WHERE supply_cost = (SELECT min(supply_cost) FROM cost c2
                     WHERE c2.p_partkey = c.p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.plans.analytics import q11_important_stock

    return q11_important_stock(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


_TPCH_Q11_ORACLE = """
WITH per_part AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS val
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier s
                      JOIN nation n ON s.s_nationkey = n.n_nationkey
                      WHERE n.n_name = 'NATION_3')
  GROUP BY l_partkey
)
SELECT l_partkey AS ps_partkey, round(CAST(val AS DOUBLE), 2) AS part_value
FROM per_part
WHERE CAST(val AS DOUBLE) > CAST((SELECT sum(val) FROM per_part) AS DOUBLE) * 0.002
ORDER BY part_value DESC, ps_partkey
"""


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.plans.analytics import q20_dominant_supplier

    return q20_dominant_supplier(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"), load_table(spark, sf_dir, "nation"),
    )


_TPCH_Q20_ORACLE = """
WITH yr AS (
  SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
), per_supp AS (
  SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS DECIMAL(18,4))) AS sq
  FROM yr GROUP BY l_partkey, l_suppkey
), per_part AS (
  SELECT l_partkey, sum(CAST(l_quantity AS DECIMAL(18,4))) AS tq
  FROM yr GROUP BY l_partkey
)
SELECT s.s_suppkey, s.s_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_3'
WHERE s.s_suppkey IN (
  SELECT ps.l_suppkey FROM per_supp ps
  JOIN per_part pp ON ps.l_partkey = pp.l_partkey
  WHERE CAST(ps.sq AS DOUBLE) > CAST(pp.tq AS DOUBLE) * 0.5)
ORDER BY s_suppkey
"""


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_spark.plans.analytics import (
        q21_suppliers_who_kept_orders_waiting,
    )

    return q21_suppliers_who_kept_orders_waiting(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "supplier"), load_table(spark, sf_dir, "nation"),
    )


_TPCH_Q21_ORACLE = """
WITH li AS (
  SELECT l_orderkey, l_suppkey, l_returnflag FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
), per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_ret
  FROM li GROUP BY l_orderkey
), failing AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM li WHERE l_returnflag = 'R'
)
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM failing f
JOIN per_order p ON f.l_orderkey = p.l_orderkey AND p.n_supp > 1 AND p.n_ret = 1
JOIN supplier s ON f.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey AND n.n_name = 'NATION_5'
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


def q_k3_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 CSV sink + S1 scan round-trip: write nation to CSV, read it back

    with the declared schema — exercises quoting/encoding symmetry."""
    from dataengineer_spark import schemas as S

    out = tempfile.mkdtemp(prefix="spark_graft_csv_") + "/nation"
    write_csv(load_table(spark, sf_dir, "nation"), out, single_file=True)
    return read_csv(spark, out, schema=S.NATION)


_K3_ORACLE = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


def q_k3_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON sink + scan round-trip over free text: newlines/quotes in
    ``documents.text`` must survive the line-delimited JSON escaping."""
    from dataengineer_spark import schemas as S
    from dataengineer_spark.sources import read_json, write_json

    out = tempfile.mkdtemp(prefix="spark_graft_json_") + "/documents"
    write_json(load_table(spark, sf_dir, "documents"), out)
    return read_json(spark, out, schema=S.DOCUMENTS)


_K3_JSON_ORACLE = "SELECT doc_id, text, lang, source, n_chars FROM documents"


def q_k3_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan round-trip on the orders table (timestamp column
    exercises ORC's µs precision against parquet's)."""
    from dataengineer_spark.sources import read_orc, write_orc

    out = tempfile.mkdtemp(prefix="spark_graft_orc_") + "/orders"
    write_orc(load_table(spark, sf_dir, "orders"), out)
    return read_orc(spark, out)


_K3_ORC_ORACLE = (
    "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
    "o_orderdate, o_orderpriority FROM orders"
)


def q_e11_stream_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11+O6 integration: stream the events file through the foreachBatch
    batch-audit sink (each micro-batch lands as a ``batch_id=N`` lake
    partition with an audit row), then read the lake back with the BATCH
    readers. Round-trip equals the batch table — oracle-checked."""
    from dataengineer_spark.catalog import Catalog
    from dataengineer_spark.streaming import batch_audited_sink, stream_events

    lake = tempfile.mkdtemp(prefix="spark_graft_slake_")
    catalog = Catalog(spark, lake)
    stream = stream_events(spark, sf_dir + "/events.parquet")
    q = batch_audited_sink(
        stream.select("event_id", "event_type", "value"),
        catalog,
        "events_stream",
        pipeline_name="stream_lake",
        checkpoint=lake + "/_ckpt",
    )
    q.awaitTermination()
    return catalog.read("events_stream").select("event_id", "event_type", "value")


_E11_LAKE_ORACLE = "SELECT event_id, event_type, value FROM events"


def q_s7_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both facts hash-distributed into matching
    buckets at write time, so the join plans NO shuffle exchange (plan
    pinned in tests/test_batch.py) — the big-fact ⋈ big-fact strategy when
    neither side broadcasts. Only the final small groupBy shuffles."""
    from dataengineer_spark.catalog import Catalog

    lake = tempfile.mkdtemp(prefix="spark_graft_bkt_")
    catalog = Catalog(spark, lake)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    catalog.write_bucketed(li, "bucketed_lineitem", ["l_orderkey"], 8)
    catalog.write_bucketed(orders, "bucketed_orders", ["o_orderkey"], 8)
    return (
        catalog.read_table("bucketed_lineitem")
        .hint("merge")
        .join(
            catalog.read_table("bucketed_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q_j5_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-proof salted fact-fact join (joins.salted_join): lineitem
    salts each row by a whole-row hash, orders replicates n_salt ways,
    and the exchange spreads any hot orderkey over n_salt tasks — the
    deterministic fallback when AQE's skew split can't break a single
    key's sort group.  Result is row-identical to the plain join, which
    is exactly what the oracle asserts."""
    from dataengineer_spark.operators.joins import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    joined = salted_join(li, orders, "l_orderkey", "o_orderkey", n_salt=8)
    return joined.groupBy("o_orderpriority").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("n_items"),
    )


_J5_SALTED_ORACLE = """
SELECT o.o_orderpriority,
       round(CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE), 2)
         AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


def q_s8_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order-clustered lake write + box-predicate read-back.  orders is
    written sorted by the Morton interleave of (o_custkey, o_totalprice)
    (layout.zorder_write: one range exchange, bit-interleave expressions,
    no UDF), so the read-back's 2-D box filter prunes most files/row
    groups on parquet min-max footer stats alone — the multi-dimensional
    clustering a btree-indexed warehouse gets for free and an object-store
    lake must encode in layout.  File-level boxiness is pinned by a
    pyarrow footer-stats test (tests/test_batch.py); correctness here is
    the oracle's plain box filter over the original table."""
    from dataengineer_spark.operators.layout import zorder_write

    out = tempfile.mkdtemp(prefix="spark_graft_zorder_") + "/orders"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    zorder_write(orders, out, ["o_custkey", "o_totalprice"], bits=16, files=8)
    back = spark.read.parquet(out)
    return back.where(
        F.col("o_custkey").between(100, 500)
        & F.col("o_totalprice").between(50000.0, 150000.0)
    )


_S8_ZORDER_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
WHERE o_custkey BETWEEN 100 AND 500
  AND o_totalprice BETWEEN 50000.0 AND 150000.0
"""


_S7_BUCKETED_ORACLE = """
SELECT o.o_orderpriority,
       round(CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE), 2) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


def q_e11_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11 stream-stream inner join: purchases within 1 hour of a click by
    the same user, both sides watermarked (bounded state). availableNow
    over one file → equals the batch interval join, so fully oracled."""
    from dataengineer_spark.streaming import (
        stream_events,
        stream_runtime_session,
        stream_stream_join,
    )
    # stateful run: child session with input-derived state width +
    # no-data finalizing batch skipped (results partition-count- and
    # no-data-batch-invariant; see stream_runtime_session docstring)
    spark = stream_runtime_session(spark, sf_dir + "/events.parquet")

    clicks = stream_events(spark, sf_dir + "/events.parquet").where(
        F.col("event_type") == "click"
    )
    purchases = stream_events(spark, sf_dir + "/events.parquet").where(
        F.col("event_type") == "purchase"
    )
    joined = stream_stream_join(clicks, purchases, within="1 hour")
    name = f"stream_join_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.col("l_id").alias("click_id"),
        F.col("r_id").alias("purchase_id"),
        F.col("r_value").alias("purchase_value"),
    )


_E11_JOIN_ORACLE = """
SELECT a.event_id AS click_id, b.event_id AS purchase_id,
       b.value AS purchase_value
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND epoch_us(b.ts) BETWEEN epoch_us(a.ts) AND epoch_us(a.ts) + 3600000000
WHERE a.event_type = 'click' AND b.event_type = 'purchase'
"""


def q_e11_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState running totals over the events stream

    (availableNow, single micro-batch → equals the batch aggregate)."""
    from dataengineer_spark.streaming import stream_events, stateful_running_totals

    stream = stream_events(spark, sf_dir + "/events.parquet")
    totals = stateful_running_totals(stream)
    name = f"stateful_out_{uuid.uuid4().hex[:8]}"
    q = (
        totals.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round("total_value", 2).alias("total_value"),
    )


_E11_STATEFUL_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(value) AS DOUBLE), 2) AS total_value
FROM events GROUP BY event_type
"""



def q_e11_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11 ONLINE anomaly detection: per-user trailing z-scores with a
    bounded deque of the last 20 milli-unit-quantized observations as
    explicit group state (streaming.stream_trailing_anomalies) —
    availableNow over the events lake equals the batch trailing window,
    and the exact-integer sums make z engine-portable bit-for-bit."""
    from dataengineer_spark.streaming import (
        stream_events,
        stream_trailing_anomalies,
    )

    stream = stream_events(spark, sf_dir + "/events.parquet")
    flags = stream_trailing_anomalies(
        stream, lookback=20, z_threshold=3.0, min_history=5
    )
    name = f"anomaly_out_{uuid.uuid4().hex[:8]}"
    q = (
        flags.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        "user_id", "ts", F.round("value", 6).alias("value"),
        "z_score", "is_anomaly",
    )


_E11_STREAM_ANOMALY_ORACLE = """
WITH v AS (
  SELECT user_id, ts, event_id, value,
         CAST(round(value * 1000, 0) AS BIGINT) AS mv
  FROM events
), w AS (
  SELECT user_id, ts, value, mv,
         count(mv) OVER win AS n,
         sum(mv) OVER win AS s1,
         sum(mv * mv) OVER win AS s2
  FROM v
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
), z AS (
  SELECT user_id, ts, value, mv,
         CASE WHEN n >= 5 AND (s2 - s1 * s1 / n) / (n - 1) > 0
              THEN (mv - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1))
         END AS zs
  FROM w
)
SELECT user_id, ts, round(value, 6) AS value, round(zs, 6) AS z_score,
       coalesce(abs(zs) > 3.0, FALSE) AS is_anomaly
FROM z
"""


def q_pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second flagship: corpus-curation pipeline (quality + language filter

    → exact content dedup → leakage-safe split → token budget)."""
    from dataengineer_spark.plans.curation import curate_corpus

    return curate_corpus(_docs(spark, sf_dir), min_quality=0.5, langs=("en",))


def _curation_oracle() -> str:
    from dataengineer_spark.operators.preparation import SPLIT_MULT

    scores = {
        lang: (
            f"len(regexp_extract_all(lower(text), "
            f"'\\b(?:{'|'.join(markers)})\\b'))"
        )
        for lang, markers in textops._LANG_MARKERS.items()
    }
    s = scores
    return f"""
WITH t AS (
  SELECT doc_id, text, length(text) AS n,
         CASE WHEN length(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) = 0 THEN 0
              ELSE len(regexp_split_to_array(
                   regexp_replace(text, '^\\s+|\\s+$', '', 'g'), '\\s+')) END AS toks,
         length(regexp_replace(text, '{textops.PUNCT_NEGATED}', '', 'g')) AS punct,
         len(regexp_split_to_array(lower(text),
             '\\b(?:the|and|of|to|a|in|is|it)\\b')) - 1 AS stop_hits,
         {s['en']} AS s_en, {s['fr']} AS s_fr, {s['es']} AS s_es, {s['de']} AS s_de,
         regexp_matches(text, '{textops.CJK_PATTERN}') AS has_cjk
  FROM documents
), q AS (
  SELECT doc_id, text, toks,
         ((CASE WHEN n >= 100 AND n <= 20000 THEN 1.0 WHEN n > 0 THEN 0.5 ELSE 0.0 END)
        + (CASE WHEN n = 0 THEN 0.0 WHEN punct / n < 0.1 THEN 1.0 ELSE 0.5 END)
        + (CASE WHEN toks = 0 THEN 0.0 WHEN stop_hits / toks > 0.05 THEN 1.0 ELSE 0.5 END)
         ) / 3.0 AS quality,
         CASE WHEN has_cjk THEN 'zh'
              WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de AND s_en > 0 THEN 'en'
              WHEN s_fr >= s_es AND s_fr >= s_de AND s_fr > 0 THEN 'fr'
              WHEN s_es >= s_de AND s_es > 0 THEN 'es'
              WHEN s_de > 0 THEN 'de'
              ELSE 'und' END AS detected_lang
  FROM t
), kept AS (
  SELECT * FROM q WHERE quality >= 0.5 AND detected_lang IN ('en')
), dedup AS (
  SELECT *, min(doc_id) OVER (PARTITION BY text) AS keeper FROM kept
)
SELECT doc_id, detected_lang, round(quality, 6) AS quality,
       CASE WHEN (doc_id * {SPLIT_MULT}) % 100 < 80 THEN 'train'
            WHEN (doc_id * {SPLIT_MULT}) % 100 < 90 THEN 'valid'
            ELSE 'test' END AS split,
       CAST(toks AS BIGINT) AS n_tokens
FROM dedup WHERE doc_id = keeper
"""



# ---------------------------------------------------------------------------
# pipeline-shape queries
# ---------------------------------------------------------------------------


def q_pipeline_dx_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _flagship(spark, sf_dir)


def q_pipeline_prostate(spark: SparkSession, sf_dir: str) -> DataFrame:
    source = _docs_source(spark, sf_dir)
    cleaned = clean_stage(source, batch_id=2, id_col="msgid", msg_col="message")
    segments = prep_stage(cleaned, DOC_PATTERNS)
    return run_prostate(segments)


def _prostate_oracle() -> str:
    constant_fields = {"site_code", "behaviour_code", "laterality"}
    standin_fields = [f for f in PROSTATE_PRED_FIELDS if f not in constant_fields]
    cols = ["msgid AS msg_id"]
    for f_ in PROSTATE_PRED_FIELDS:
        if f_ in constant_fields:
            val = {"site_code": "C61.9", "behaviour_code": "3", "laterality": "00"}[f_]
            cols.append(f"'{val}' AS {f_}")
            cols.append(f"CAST(1.0 AS DOUBLE) AS {f_}_pred_score")
        else:
            salt = standin_fields.index(f_)
            h = (
                f"(msgid * {STANDIN_MULT} + length(coalesce(filtered_message, ''))"
                f" + {salt}) % 1000000"
            )
            cols.append(f"CAST({h} % 100 AS VARCHAR) AS {f_}")
            cols.append(f"CAST({h} % 1000 AS DOUBLE) / 1000.0 AS {f_}_pred_score")
    select_list = ",\n       ".join(cols)
    return f"""
WITH cleaned AS (
  SELECT doc_id AS msgid, {_sql_clean('text')} AS msg FROM documents
), prep AS (
  SELECT msgid, {_sql_sections('msg')} FROM cleaned
)
SELECT {select_list}
FROM prep
"""


# ---------------------------------------------------------------------------
# E4b/E17 — corpus scrubbing (PII redaction, C4/Gopher filters) and ranking
# (TF-IDF / BM25).  The synthetic documents carry no PII or line structure,
# so the PII and C4 queries AUGMENT the text with doc_id-derived spans via
# the SAME deterministic expression on both engines — the operator under
# test is the redaction/filter, the augmentation is the fixture.
# ---------------------------------------------------------------------------


def q_e4_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4b — PII redaction + per-kind counts over augmented documents."""
    from dataengineer_spark.operators import scrubbing

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit("."), (F.col("doc_id") % 100).cast("string"),
            F.lit(" call 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" ssn 123-45-6789")).otherwise(
                F.lit("")
            ),
        ),
    )
    return scrubbing.redact_pii(aug).select(
        "doc_id", "n_email", "n_ssn", "n_phone", "n_ipv4", "text_redacted"
    )


_SQL_PII_AUG = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com ip 10.0.'"
    " || CAST(doc_id % 250 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR)"
    " || ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'"
    " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || CASE WHEN doc_id % 3 = 0 THEN ' ssn 123-45-6789' ELSE '' END"
)


def _pii_oracle() -> str:
    from dataengineer_spark.operators.scrubbing import PII_PATTERNS

    red = "tx"
    counts = []
    for kind, pat, repl in PII_PATTERNS:
        counts.append(f"len(regexp_extract_all(tx, '{pat}')) AS n_{kind}")
        # '[' is literal in an RE2 replacement string — no escaping needed
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return f"""
WITH t AS (SELECT doc_id, {_SQL_PII_AUG} AS tx FROM documents)
SELECT doc_id, {', '.join(counts)}, {red} AS text_redacted
FROM t
"""


def q_e4_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4b — C4 line-level filter over documents given line structure

    (every literal ' value ' becomes a sentence break on both engines)."""
    from dataengineer_spark.operators import scrubbing

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    aug = docs.withColumn(
        "text", F.concat(F.regexp_replace("text", " value ", ".\n"), F.lit("."))
    )
    return scrubbing.c4_line_filter(aug, min_words=3).select(
        "doc_id", "n_lines", "n_kept", "text_kept", "doc_keep"
    )


_E4_C4_ORACLE = """
WITH t AS (
  SELECT doc_id,
         regexp_replace(text, ' value ', '.' || chr(10), 'g') || '.' AS tx
  FROM documents
), l AS (
  SELECT doc_id, tx, string_split(tx, chr(10)) AS lines FROM t
), k AS (
  SELECT doc_id, tx, len(lines) AS n_lines,
         list_filter(
           list_transform(lines, x -> regexp_replace(x, '^\\s+|\\s+$', '', 'g')),
           s -> length(s) > 0
                AND len(regexp_split_to_array(s, '\\s+')) >= 3
                AND regexp_matches(s, '[.!?]$')
         ) AS kept
  FROM l
)
SELECT doc_id, n_lines, len(kept) AS n_kept,
       array_to_string(kept, chr(10)) AS text_kept,
       (len(kept) >= 1 AND NOT contains(tx, '{')
        AND NOT contains(lower(tx), 'lorem ipsum')) AS doc_keep
FROM k
"""


def q_e4_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4b — Gopher document-level quality rules (native, map-only)."""
    from dataengineer_spark.operators import scrubbing

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return scrubbing.gopher_filter(docs).select(
        "doc_id", "n_words", "mean_word_len_g",
        "ok_n_words", "ok_word_len", "ok_alpha_words", "ok_stopwords",
        "gopher_keep",
    )


def _gopher_parts() -> tuple[str, list[tuple[str, str]]]:
    """Shared CTE + per-rule SQL conditions for the Gopher oracles."""
    from dataengineer_spark.operators import scrubbing as sc

    stop_list = "[" + ", ".join(f"'{w}'" for w in sc._STOPWORDS) + "]"
    cte = f"""
WITH t AS (
  SELECT doc_id, text, {_SQL_T} AS tt, {_SQL_WORDS} AS words FROM documents
), s AS (
  SELECT doc_id, text,
         CASE WHEN length(tt) = 0 THEN 0 ELSE len(words) END AS n_words,
         list_sum(list_transform(words, w -> length(w))) AS sum_len,
         len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
         -- DISTINCT stop words present (engine parity: one flag per
         -- stopword summed, not occurrence counting)
         len(list_filter({stop_list},
             w -> regexp_matches(lower(text), '\\b' || w || '\\b')))
           AS stop_hits
  FROM t
), f AS (
  SELECT doc_id, n_words,
         CASE WHEN n_words > 0 THEN CAST(sum_len AS DOUBLE) / n_words
              ELSE 0.0 END AS mwl,
         CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words
              ELSE 0.0 END AS af,
         stop_hits
  FROM s
)"""
    rules = [
        (
            "ok_n_words",
            f"(n_words >= {sc.GOPHER_MIN_WORDS}"
            f" AND n_words <= {sc.GOPHER_MAX_WORDS})",
        ),
        (
            "ok_word_len",
            f"(mwl >= {sc.GOPHER_MIN_MEAN_WORD_LEN}"
            f" AND mwl <= {sc.GOPHER_MAX_MEAN_WORD_LEN})",
        ),
        ("ok_alpha_words", f"(af >= {sc.GOPHER_MIN_ALPHA_WORD_FRAC})"),
        ("ok_stopwords", f"(stop_hits >= {sc.GOPHER_MIN_STOP_HITS})"),
    ]
    return cte, rules


def _gopher_oracle() -> str:
    cte, rules = _gopher_parts()
    sel = ",\n       ".join(f"{cond} AS {name}" for name, cond in rules)
    conj = " AND ".join(cond for _, cond in rules)
    return f"""{cte}
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       round(mwl, 6) AS mean_word_len_g,
       {sel},
       ({conj}) AS gopher_keep
FROM f
"""


def q_rank_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E17 — top-3 TF-IDF terms per document (integer-only output)."""
    from dataengineer_spark.operators import ranking

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return ranking.tf_idf_top_terms(docs, k=3).withColumnRenamed("rank", "rnk")


_RANK_TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_WORDS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE length(term) > 0 GROUP BY doc_id, term
), dfq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT count(*) AS n FROM documents
), s AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
         tf.tf * (ln((n.n + 1.0) / (dfq.df + 1)) + 1.0) AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN n
), r AS (
  SELECT doc_id, term, tf, df,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC)
           AS rnk
  FROM s
)
SELECT doc_id, term, tf, df, rnk FROM r WHERE rnk <= 3
"""

#: fixed BM25 probe terms (present in the synthetic vocabulary)
_BM25_TERMS = ["table", "window", "stream", "key"]


def q_rank_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E17 — BM25 scores for a fixed query-term set (decimal-summed)."""
    from dataengineer_spark.operators import ranking

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return ranking.bm25_scores(docs, _BM25_TERMS)


_RANK_BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_WORDS}) AS term FROM documents
), toks2 AS (
  SELECT doc_id, term FROM toks WHERE length(term) > 0
), dl AS (
  SELECT doc_id, count(*) AS dl FROM toks2 GROUP BY doc_id
), a AS (
  SELECT avg(dl) AS avgdl FROM dl
), n AS (
  SELECT count(*) AS n FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks2
  WHERE term IN ({', '.join("'" + t + "'" for t in _BM25_TERMS)})
  GROUP BY doc_id, term
), dfq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), c AS (
  SELECT tf.doc_id,
         ln(1.0 + (n.n - dfq.df + 0.5) / (dfq.df + 0.5))
         * (tf.tf * (1.5 + 1)) /
           (tf.tf + 1.5 * (1 - 0.75 + 0.75 * dl.dl / a.avgdl)) AS contrib
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
  CROSS JOIN a CROSS JOIN n
)
SELECT doc_id, count(*) AS n_hit_terms,
       round(CAST(sum(CAST(contrib AS DECIMAL(28,12))) AS DOUBLE), 6) AS bm25
FROM c GROUP BY doc_id
"""


def q_e2_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cell-bounded semantic dedup — ORACLED: the seeded
    codebook is inlined into the oracle, which replicates cell
    assignment, the in-cell pair compare, and the deterministic min-id
    survivor rule."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    out = sim_ops.semantic_dedup(emb, dim=64, threshold=0.9, n_centroids=8)
    return out.select(
        "id", F.col("cell").cast("bigint").alias("cell"), "dropped", "kept_by"
    )


def _semantic_dedup_oracle() -> str:
    from dataengineer_spark.operators.similarity import _centroids

    dim, n_centroids, threshold = 64, 8, 0.9
    cents = _centroids(dim, n_centroids, seed=7)
    cm = (
        "["
        + ", ".join("[" + ", ".join(repr(x) for x in c) + "]" for c in cents)
        + "]"
    )
    # cm hoisted into a 1-row CTE (literal-in-lambda re-materialization)
    scores = (
        f"list_transform(generate_series(0, {n_centroids - 1}), "
        "i -> {'score': list_reduce(list_transform(generate_series(1, 64), "
        "j -> v[j] * cm[i + 1][j]), (a, b) -> a + b), 'cell': i})"
    )
    return f"""
WITH e AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), lits AS (
  SELECT CAST({cm} AS DOUBLE[][]) AS cm
), bk AS (
  SELECT id, v,
    CAST((list_max({scores})).cell AS BIGINT) AS cell,
    sqrt(list_reduce(list_transform(generate_series(1, 64),
      j -> v[j] * v[j]), (a, b) -> a + b)) AS nrm
  FROM e CROSS JOIN lits
), dup AS (
  SELECT a.id, min(b.id) AS kept_by
  FROM bk a JOIN bk b ON a.cell = b.cell AND a.id > b.id
  WHERE a.nrm * b.nrm > 0
    AND list_reduce(list_transform(generate_series(1, 64),
          j -> a.v[j] * b.v[j]), (x, y) -> x + y) / (a.nrm * b.nrm)
        >= {threshold}
  GROUP BY a.id
)
SELECT bk.id, bk.cell, dup.kept_by IS NOT NULL AS dropped, dup.kept_by
FROM bk LEFT JOIN dup USING (id)
"""


def q_e2_semantic_dedup_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with a TRAINED codebook — the end-to-end composition:
    2-iteration Lloyd's k-means fits the 8-cell codebook (q_e3_kmeans),
    then cell-bounded pair compare + min-id survivor runs against those
    cells. ORACLED end to end: the DuckDB oracle unrolls the training
    CTEs and re-derives the same dense cell ids before replicating the
    dedup. Training collects 2 control-plane moment tables (8×64 rows)
    while BUILDING the plan; the dedup plan itself is the one-shuffle
    cell equi-join of q_e2_semantic_dedup."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    pairs = sim_ops.kmeans_codebook(emb, dim=64, n_centroids=8, iters=2, seed=7)
    out = sim_ops.semantic_dedup(
        emb, dim=64, threshold=0.9, codebook=[c for _, c in pairs]
    )
    return out.select(
        "id", F.col("cell").cast("bigint").alias("cell"), "dropped", "kept_by"
    )


def _semantic_dedup_trained_oracle() -> str:
    from dataengineer_spark.operators.similarity import _centroids

    dim, n_centroids, threshold = 64, 8, 0.9
    cents = _centroids(dim, n_centroids, seed=7)
    cm = (
        "["
        + ", ".join("[" + ", ".join(repr(x) for x in c) + "]" for c in cents)
        + "]"
    )
    # cm hoisted into a 1-row CTE (literal-in-lambda re-materialization)
    scores1 = (
        f"list_transform(generate_series(0, {n_centroids - 1}), "
        f"i -> {{'score': list_reduce(list_transform(generate_series(1, "
        f"{dim}), j -> v[j] * cm[i + 1][j]), (a, b) -> a + b), "
        "'cell': i})"
    )
    scores_cb = (
        "list_transform(cb, s -> {'score': "
        f"list_reduce(list_transform(generate_series(1, {dim}), "
        "j -> v[j] * (s.cv)[j]), (a, b) -> a + b), 'cell': s.cell})"
    )
    mean = (
        "round(CAST(sum(CAST(round(x, 6) AS DECIMAL(19,6))) AS DOUBLE)"
        " / count(*), 6)"
    )
    return f"""
WITH e AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), lits AS (
  SELECT CAST({cm} AS DOUBLE[][]) AS cm
), a1 AS (
  SELECT id, v, (list_max({scores1})).cell AS cell FROM e CROSS JOIN lits
), x1 AS (
  SELECT cell, unnest(generate_series(1, {dim})) - 1 AS pos, unnest(v) AS x
  FROM a1
), m1 AS (
  SELECT cell, pos, {mean} AS c FROM x1 GROUP BY cell, pos
), cb1 AS (
  SELECT list({{'cell': cell, 'cv': cv}} ORDER BY cell) AS cb FROM (
    SELECT cell, list(c ORDER BY pos) AS cv FROM m1 GROUP BY cell
  )
), a2 AS (
  SELECT id, v, (list_max({scores_cb})).cell AS cell FROM e CROSS JOIN cb1
), x2 AS (
  SELECT cell, unnest(generate_series(1, {dim})) - 1 AS pos, unnest(v) AS x
  FROM a2
), m2 AS (
  SELECT cell, pos, {mean} AS c FROM x2 GROUP BY cell, pos
), cb2 AS (
  -- dense re-index (sorted original cell id -> 0..k-1) mirrors the
  -- engine passing the trained codebook as a plain ordered list
  SELECT list({{'cell': rn, 'cv': cv}} ORDER BY rn) AS cb FROM (
    SELECT row_number() OVER (ORDER BY cell) - 1 AS rn, cv FROM (
      SELECT cell, list(c ORDER BY pos) AS cv FROM m2 GROUP BY cell
    )
  )
), bk AS (
  SELECT id, v,
    CAST((list_max({scores_cb})).cell AS BIGINT) AS cell,
    sqrt(list_reduce(list_transform(generate_series(1, {dim}),
      j -> v[j] * v[j]), (a, b) -> a + b)) AS nrm
  FROM e CROSS JOIN cb2
), dup AS (
  SELECT a.id, min(b.id) AS kept_by
  FROM bk a JOIN bk b ON a.cell = b.cell AND a.id > b.id
  WHERE a.nrm * b.nrm > 0
    AND list_reduce(list_transform(generate_series(1, {dim}),
          j -> a.v[j] * b.v[j]), (x, y) -> x + y) / (a.nrm * b.nrm)
        >= {threshold}
  GROUP BY a.id
)
SELECT bk.id, bk.cell, dup.kept_by IS NOT NULL AS dropped, dup.kept_by
FROM bk LEFT JOIN dup USING (id)
"""


# ---------------------------------------------------------------------------
# E2c — substring-level duplicate spans; E18 — DSIR importance weighting.
# The synthetic documents are random-vocabulary text with no boilerplate,
# so the dup-span query AUGMENTs ~2/4 of documents with two fixed
# boilerplate sentences via the SAME expression on both engines — the
# operator under test is span detection/merging, the augmentation is the
# fixture.
# ---------------------------------------------------------------------------

_BOILER_A = (
    "subscribe to our newsletter today for updates and exclusive offers now"
)
_BOILER_B = (
    "this document is provided under the terms of the public license"
)


_E2_DUP_SPANS_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 3
              THEN '{_BOILER_B} ' ELSE '' END
         || (CASE WHEN doc_id % 4 = 0
                  THEN text || ' {_BOILER_A}'
                  ELSE text END) AS text
  FROM documents
), w AS (
  SELECT doc_id, {{words}} AS words FROM t
), p AS (
  SELECT doc_id, words, unnest(range(1, len(words) - 6)) AS p
  FROM w WHERE len(words) >= 8
), s AS (
  SELECT doc_id, CAST(p AS BIGINT) AS p,
         array_to_string(words[p:p+7], ' ') AS sh
  FROM p
), d AS (
  SELECT sh FROM s GROUP BY sh HAVING count(DISTINCT doc_id) >= 2
), h AS (
  SELECT s.doc_id, s.p FROM s JOIN d USING (sh)
), g AS (
  SELECT doc_id, p,
         CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 8
              THEN 1 ELSE 0 END AS brk
  FROM h
), i AS (
  SELECT doc_id, p,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY p
                        ROWS UNBOUNDED PRECEDING) AS isl
  FROM g
)
SELECT doc_id, min(p) AS span_start, max(p) + 7 AS span_end,
       max(p) + 8 - min(p) AS n_tokens
FROM i GROUP BY doc_id, isl
"""


_PREP_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang = 'en' AS t, unnest({_SQL_WORDS}) AS w FROM documents
), {_duck_xxhash64_cte("u", "w", "toks")}, tok AS (
  SELECT doc_id, t, (u.h % 64 + 64) % 64 AS b
  FROM toks JOIN u USING (w) WHERE length(w) > 0
), per AS (
  SELECT doc_id, b, count(*) AS cnt FROM tok GROUP BY 1, 2
), raw AS (
  SELECT b, count(*) AS cr FROM tok GROUP BY 1
), tgt AS (
  SELECT b, count(*) AS ct FROM tok WHERE t GROUP BY 1
), tot AS (
  SELECT count(*) AS tr, count(CASE WHEN t THEN 1 END) AS tt FROM tok
), dist AS (
  SELECT raw.b,
         ln((COALESCE(ct, 0) + 1.0) / (tt + 64))
         - ln((cr + 1.0) / (tr + 64)) AS lam
  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot
)
SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
       round(CAST(sum(CAST(cnt * lam AS DECIMAL(28,12))) AS DOUBLE), 6)
         AS dsir_logratio
FROM per JOIN dist USING (b) GROUP BY doc_id
"""


def q_e2_dup_spans_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2c — maximal cross-document duplicated token spans (k=8 word

    shingles shared by >= 2 docs, islands merged per document), keyed by
    xxhash64 so the only wide exchange carries 8-byte keys instead of
    k-word shingle text.  ORACLED: spans are positions, not keys, so the
    DuckDB replay keys shingles by their text and matches exactly."""
    from dataengineer_spark.operators import dedup as dedup_ops

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    d = F.col("doc_id")
    aug1 = F.when(
        d % 4 == 0, F.concat(F.col("text"), F.lit(" " + _BOILER_A))
    ).otherwise(F.col("text"))
    aug = F.when(d % 7 == 3, F.concat(F.lit(_BOILER_B + " "), aug1)).otherwise(
        aug1
    )
    return dedup_ops.dup_spans(docs.withColumn("text", aug), k=8, min_docs=2)


def q_prep_dsir_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E18 — DSIR log importance ratio of every document against the

    English-language slice as the target corpus, tokens bucketed by
    ``pmod(xxhash64(w), 64)``.  ORACLED: DuckDB replays every word's
    xxhash64 with ``_duck_xxhash64``."""
    from dataengineer_spark.operators import preparation

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    return preparation.dsir_importance(docs, F.col("lang") == "en", buckets=64)


def q_dq_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15/O6 — lake snapshot diff: what a backfill changed at row
    granularity. Two deterministic orders snapshots (old drops
    orderkey%5==0, new drops %7==0 and bumps o_totalprice for %11==0) are
    diffed into added/removed/changed keys via one full-outer key join
    with null-safe struct value compare."""
    from dataengineer_spark.operators import quality

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = orders.where(F.col("o_orderkey") % 5 != 0)
    new = orders.where(F.col("o_orderkey") % 7 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 11 == 0, F.col("o_totalprice") + 1
        ).otherwise(F.col("o_totalprice")),
    )
    return quality.snapshot_diff(old, new, ["o_orderkey"])


_DQ_SNAPSHOT_DIFF_ORACLE = """
WITH old AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 5 <> 0
), new AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 7 <> 0
)
SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey,
       CASE WHEN old.o_orderkey IS NULL THEN 'added'
            WHEN new.o_orderkey IS NULL THEN 'removed'
            WHEN (old.o_orderstatus IS DISTINCT FROM new.o_orderstatus)
              OR (old.o_totalprice IS DISTINCT FROM new.o_totalprice)
            THEN 'changed' END AS change
FROM old FULL OUTER JOIN new USING (o_orderkey)
WHERE (old.o_orderkey IS NULL) OR (new.o_orderkey IS NULL)
   OR (old.o_orderstatus IS DISTINCT FROM new.o_orderstatus)
   OR (old.o_totalprice IS DISTINCT FROM new.o_totalprice)
"""


def q_dq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15 mixture monitoring: KL(source unigram dist ‖ corpus dist) and
    corpus-vocabulary coverage per source (quality.distribution_drift) —
    the audit that catches one source's language drifting away from the
    blend its mixture weight assumed.  Per-word double terms are summed
    as decimals, so the result is independent of aggregation order and
    the DuckDB oracle reproduces it exactly."""
    from dataengineer_spark.operators import quality

    docs = _docs(spark, sf_dir).select("source", "text")
    return quality.distribution_drift(docs, "source", "text")


_DQ_DRIFT_ORACLE = r"""
WITH w AS (
  SELECT source,
         unnest(regexp_split_to_array(
           regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+')) AS word
  FROM documents
), gw AS (
  SELECT source, word, count(*) AS c_gw FROM w GROUP BY 1, 2
), gt AS (
  SELECT source, sum(c_gw) AS n_g FROM gw GROUP BY 1
), wt AS (
  SELECT word, sum(c_gw) AS c_w FROM gw GROUP BY 1
), nt AS (
  SELECT sum(c_gw) AS n FROM gw
)
SELECT gw.source,
       CAST(any_value(n_g) AS BIGINT) AS n_words,
       round(CAST(sum(CAST((c_gw / n_g) * ln((c_gw / n_g) / (c_w / n))
             AS DECIMAL(28,18))) AS DOUBLE), 6) AS kl_divergence,
       round(CAST(sum(CAST(c_w / n AS DECIMAL(28,18))) AS DOUBLE), 6)
         AS vocab_coverage
FROM gw JOIN gt USING (source) JOIN wt USING (word) CROSS JOIN nt
GROUP BY gw.source
"""


def q_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15 ANALYZE: one-scan per-column profile of orders (quality.
    table_profile — row/null counts, numeric min/max as doubles, exact +
    HLL++ distincts with a bound-check boolean).  This is the stats table
    that feeds layout.zorder_value(ranges=...) and broadcast decisions
    without a second scan."""
    from dataengineer_spark.operators import quality

    # fan_out (round-11): the profile's multi-count_distinct aggregate
    # EXPANDs every row 5× before aggregating, and the single-file local
    # scan is one partition — unfanned, that whole expand ran on one
    # task (A/B: 2.93 → 2.54 s fanned).  No-op at production splits.
    orders = fan_out(load_table(spark, sf_dir, "orders"))
    return quality.table_profile(
        orders, ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"]
    )


_DQ_PROFILE_ORACLE = """
SELECT 'o_orderkey' AS column, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(min(o_orderkey) AS DOUBLE) AS min_val,
       CAST(max(o_orderkey) AS DOUBLE) AS max_val,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
       TRUE AS ndv_est_ok
FROM orders
UNION ALL
SELECT 'o_custkey', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE),
       CAST(count(DISTINCT o_custkey) AS BIGINT), TRUE
FROM orders
UNION ALL
SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE),
       CAST(count(DISTINCT o_totalprice) AS BIGINT), TRUE
FROM orders
UNION ALL
SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       CAST(count(DISTINCT o_orderpriority) AS BIGINT), TRUE
FROM orders
"""


def q_dq_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15+E17 — survival funnel of the ordered Gopher rule chain: how

    much corpus each scrubbing stage costs (single-scan conditional
    aggregate, audit-sized output)."""
    from dataengineer_spark.operators import quality, scrubbing

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    g = scrubbing.gopher_filter(docs)
    rules = [
        (name, F.col(name))
        for name in ("ok_n_words", "ok_word_len", "ok_alpha_words", "ok_stopwords")
    ]
    return quality.funnel_report(g, rules)


def _gopher_funnel_oracle() -> str:
    cte, rules = _gopher_parts()
    steps, cum = [], []
    for i, (name, cond) in enumerate(rules):
        cum.append(cond)
        cumc = " AND ".join(cum)
        steps.append(
            f"SELECT {i + 1} AS step, '{name}' AS rule_name,\n"
            f"  CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_pass,\n"
            f"  CAST(sum(CASE WHEN {cumc} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_cum,\n"
            f"  round(sum(CASE WHEN {cumc} THEN 1 ELSE 0 END) * 1.0"
            f" / count(*), 6) AS frac_cum\nFROM f"
        )
    return cte + "\n" + "\nUNION ALL\n".join(steps)


def q_prep_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination — xxhash64 MinHash-LSH band probe of the

    corpus against a benchmark side (every 50th document stands in for
    the eval suite), exact-Jaccard verified.  ORACLED: DuckDB replays
    both sides' signatures (``_duck_minhash(family="xxhash64")``), the
    band probe and the verify; identity hits + band-recall are also
    pinned in tests/test_scrubbing.py."""
    from dataengineer_spark.operators import dedup as dedup_ops

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 50 == 7).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return dedup_ops.minhash_lsh_join(
        docs, bench, threshold=0.5
    )


def _decontaminate_oracle() -> str:
    return _lsh_join_oracle(
        "SELECT doc_id AS corpus_id, text FROM documents",
        "SELECT doc_id AS bench_id, text FROM documents WHERE doc_id % 50 = 7",
        threshold=0.5, family="xxhash64",
    )


def q_e5_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 breadth: Pearson corr / covariance / stddev per return flag via
    exact decimal moment sums (engine-reproducible floats; the built-in
    F.corr accumulates doubles in partial-agg order)."""
    from dataengineer_spark.operators import aggregates as agg_ops2

    # fan_out + project (round-11): the exact-decimal moment sums are
    # CPU-heavy per row and the single-file scan is one partition —
    # unfanned the whole partial aggregate ran on one task (A/B 1.34 →
    # 0.97 s).  Projection first so the fan-out shuffle carries only
    # the three needed columns (guide §2.3).
    li = fan_out(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_quantity", "l_extendedprice"
        )
    )
    return agg_ops2.corr_stats(
        li, ["l_returnflag"], "l_quantity", "l_extendedprice"
    )


_E5_CORR_ORACLE = """
WITH m AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS sx,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS sy,
    CAST(sum(CAST(l_quantity AS DECIMAL(19,6))
           * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS sxy,
    CAST(sum(CAST(l_quantity AS DECIMAL(19,6))
           * CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS sxx,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(19,6))
           * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
  round((sxy - sx*sy/n) / sqrt((sxx - sx*sx/n) * (syy - sy*sy/n)), 6)
    AS corr_xy,
  round((sxy - sx*sy/n) / (n - 1), 6) AS covar_xy,
  round(sqrt((sxx - sx*sx/n) / (n - 1)), 6) AS stddev_x,
  round(sqrt((syy - sy*sy/n) / (n - 1)), 6) AS stddev_y
FROM m
"""


def q_e1_dup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 variant: soft dedup — every row kept, weighted 1/n_copies so
    duplicated content contributes one document of training loss."""
    from dataengineer_spark.operators import dedup as dedup_ops2

    docs = _docs(spark, sf_dir)
    return dedup_ops2.dup_weights(docs, "text", "doc_id").select(
        "doc_id", "lang", "n_copies", "weight"
    )


_E1_DUP_WEIGHTS_ORACLE = """
SELECT doc_id, lang,
       CAST(count(*) OVER (PARTITION BY coalesce(text, '')) AS BIGINT)
         AS n_copies,
       round(CAST(1.0 AS DOUBLE)
             / count(*) OVER (PARTITION BY coalesce(text, '')), 6)
         AS weight
FROM documents
"""


def q_e4_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4/prep: bigram-LM perplexity scoring (add-k smoothing, corpus
    self-trained) — the CCNet-style quality-filter signal."""
    from dataengineer_spark.operators import lm as lm_ops

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return lm_ops.bigram_perplexity(docs, k=0.1)


_E4_PPL_ORACLE = r"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(
           regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') AS arr
  FROM documents
), toks0 AS (
  SELECT doc_id, unnest(arr) AS w, generate_subscripts(arr, 1) AS ord FROM d
), toks AS (
  SELECT * FROM toks0 WHERE length(w) > 0
), big AS (
  SELECT a.doc_id, a.w AS w1, b.w AS w2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
), uni AS (
  SELECT w AS w1, count(*) AS c1 FROM toks GROUP BY w
), bc AS (
  SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2
), v AS (
  SELECT CAST(count(*) AS DOUBLE) AS v FROM uni
), per_doc AS (
  SELECT big.doc_id,
    CAST(count(*) AS BIGINT) AS n_bigrams,
    round(CAST(sum(CAST(-ln((bc.c2 + 0.1) / (uni.c1 + 0.1 * v.v))
                        AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6)
      AS cross_entropy
  FROM big
  JOIN bc USING (w1, w2)
  JOIN uni USING (w1)
  CROSS JOIN v
  GROUP BY big.doc_id
)
SELECT doc_id, n_bigrams, cross_entropy,
       round(exp(cross_entropy), 6) AS ppl
FROM per_doc
"""


def q_e4_perplexity_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4/prep: perplexity under a FOREIGN reference model — the CCNet
    deployment shape (model trained on a clean reference corpus, applied
    to candidate documents). Even doc_ids train, odd doc_ids are scored;
    unseen bigrams get pure add-k mass via the left-join coalesce path."""
    from dataengineer_spark.operators import lm as lm_ops

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    ref = docs.where(F.col("doc_id") % 2 == 0)
    score = docs.where(F.col("doc_id") % 2 == 1)
    return lm_ops.bigram_perplexity(score, k=0.5, ref=ref)


_E4_PPL_REF_ORACLE = r"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(
           regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') AS arr
  FROM documents
), toks0 AS (
  SELECT doc_id, unnest(arr) AS w, generate_subscripts(arr, 1) AS ord FROM d
), toks AS (
  SELECT * FROM toks0 WHERE length(w) > 0
), big_s AS (
  SELECT a.doc_id, a.w AS w1, b.w AS w2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
  WHERE a.doc_id % 2 = 1
), toks_r AS (
  SELECT * FROM toks WHERE doc_id % 2 = 0
), big_r AS (
  SELECT a.doc_id, a.w AS w1, b.w AS w2
  FROM toks_r a JOIN toks_r b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
), uni AS (
  SELECT w AS w1, count(*) AS c1 FROM toks_r GROUP BY w
), bc AS (
  SELECT w1, w2, count(*) AS c2 FROM big_r GROUP BY w1, w2
), v AS (
  SELECT CAST(count(*) AS DOUBLE) AS v FROM uni
), per_doc AS (
  SELECT big_s.doc_id,
    CAST(count(*) AS BIGINT) AS n_bigrams,
    round(CAST(sum(CAST(-ln((coalesce(bc.c2, 0) + 0.5)
                            / (coalesce(uni.c1, 0) + 0.5 * v.v))
                        AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6)
      AS cross_entropy
  FROM big_s
  LEFT JOIN bc USING (w1, w2)
  LEFT JOIN uni USING (w1)
  CROSS JOIN v
  GROUP BY big_s.doc_id
)
SELECT doc_id, n_bigrams, cross_entropy,
       round(exp(cross_entropy), 6) AS ppl
FROM per_doc
"""


def q_e14_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E14: hive-style date-partitioned lake write + pruned read-back —
    the filter on the partition column reaches the scan as a
    PartitionFilter, so a one-year read touches one year's directories
    (the layout a 100 TB orders table would actually land in)."""
    out = tempfile.mkdtemp(prefix="spark_graft_part_") + "/orders"
    orders = load_table(spark, sf_dir, "orders")
    (
        orders.withColumn("o_year", F.year("o_orderdate"))
        .write.partitionBy("o_year")
        .parquet(out)
    )
    back = spark.read.parquet(out).where(F.col("o_year") == 1995)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
            2,
        ).alias("total"),
    )


_E14_PARTITIONED_ORACLE = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS total
FROM orders WHERE year(o_orderdate) = 1995
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# round-5 additions: corpus normalization, mixture upsampling, semantic
# decontamination, duplication census, dead-letter sink, schema-evolution
# scan, token-budget accounting
# ---------------------------------------------------------------------------


def q_f13_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-family corpus normalization (cleaning.normalize_text): lower →
    literal accent fold → control strip → whitespace collapse → trim.
    Map-only expression chain (whole-stage codegen); run before exact/
    near dedup so encoding-trivial variants hash identically."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", cleaning.normalize_text(F.col("text")).alias("norm_text")
    )


def _normalize_oracle() -> str:
    from dataengineer_spark.functions.cleaning import ACCENT_FROM, ACCENT_TO

    return f"""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(
           translate(lower(text), '{ACCENT_FROM}', '{ACCENT_TO}'),
           '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', ' ', 'g'),
           '\\s+', ' ', 'g'),
           '^\\s+|\\s+$', '', 'g') AS norm_text
FROM documents
"""


def q_prep_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16 mixture UP-sampling (preparation.mixture_upsample): books-like
    domains repeated 2.5× / 3×, one downweighted 0.5× — integer part
    repeats every row, fractional part decided by the deterministic
    hash-bucket rule; map-only explode(sequence), no shuffle, no RNG."""
    from dataengineer_spark.operators.preparation import mixture_upsample

    docs = load_table(spark, sf_dir, "documents")
    out = mixture_upsample(
        docs, "doc_id", "source",
        {"src3": 2.5, "src11": 3.0, "src7": 0.5},
        default_factor=1.0,
    )
    return out.select("doc_id", "source", "copy_n")


_PREP_UPSAMPLE_ORACLE = """
-- salt 104729 = preparation.UPSAMPLE_SALT (domain separation from both
-- the split hash and the mixture-sample hash)
WITH f AS (
  SELECT doc_id, source,
         (doc_id * 2654435761 + 104729) % 100000 AS bkt,
         CASE source WHEN 'src3' THEN 2 WHEN 'src11' THEN 3
                     WHEN 'src7' THEN 0 ELSE 1 END AS whole,
         CASE source WHEN 'src3' THEN 50000 WHEN 'src11' THEN 0
                     WHEN 'src7' THEN 50000 ELSE 0 END AS fthr
  FROM documents
), n AS (
  SELECT doc_id, source,
         whole + CASE WHEN bkt < fthr THEN 1 ELSE 0 END AS n_rep
  FROM f
)
SELECT doc_id, source, CAST(unnest(generate_series(1, n_rep)) AS INTEGER) AS copy_n
FROM n WHERE n_rep >= 1
"""


def _semdecon_inputs(spark, sf_dir):
    """Shared (corpus, bench) split for the semantic-decontamination
    engine twins — ONE builder so the rows-only Arrow twin provably
    scores the identical corpus/benchmark as its oracled sibling."""
    emb = load_table(spark, sf_dir, "embeddings")
    bench_rows = (
        emb.where(F.col("vec_id") % 50 == 0)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    bench = [list(r["embedding"]) for r in bench_rows]
    return emb.where(F.col("vec_id") % 50 != 0), bench


def q_prep_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E18 semantic (embedding-space) benchmark decontamination
    (similarity.semantic_decontaminate): benchmark = every 50th vector,
    collected control-plane-side (eval suites are small by nature) and
    inlined as a literal; the corpus is scanned ONCE, map-only — each
    row folds a sequential-sum cosine over the literal benchmark list,
    so DuckDB replays the exact float sequence.  The semantic complement
    of the n-gram/Bloom decontaminators for paraphrased eval items."""
    corpus, bench = _semdecon_inputs(spark, sf_dir)
    return (
        sim_ops.semantic_decontaminate(corpus, bench, threshold=0.5)
        .select("vec_id", "max_bench_sim", "contaminated")
        .orderBy("vec_id")
    )


_PREP_SEMDECON_ORACLE = """
WITH bench AS (
  -- driver-side unit-normalization replayed: sequential square-sum →
  -- sqrt → per-element divide (similarity.semantic_decontaminate)
  SELECT list_transform(CAST(embedding AS DOUBLE[]),
           x -> x / sqrt(list_reduce(list_transform(generate_series(1, 64),
                j -> CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)),
                (a, y) -> a + y))) AS bu
  FROM embeddings WHERE vec_id % 50 = 0
), corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_reduce(list_transform(generate_series(1, 64),
              j -> CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)),
              (a, x) -> a + x)) AS vnrm
  FROM embeddings WHERE vec_id % 50 <> 0
), scored AS (
  -- max over raw dots FIRST, one divide by |v| after (max commutes
  -- with the positive constant factor) — same order as the engine
  SELECT c.vec_id,
         max(list_reduce(list_transform(generate_series(1, 64),
             j -> c.v[j] * b.bu[j]), (a, x) -> a + x)) / c.vnrm AS best
  FROM corpus c CROSS JOIN bench b
  GROUP BY c.vec_id, c.vnrm
)
SELECT vec_id, round(best, 6) AS max_bench_sim,
       coalesce(best >= 0.5, FALSE) AS contaminated
FROM scored ORDER BY vec_id
"""


def q_prep_semantic_decontaminate_arrow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Semantic decontamination on the Arrow/numpy engine layer
    (similarity.semantic_decontaminate_arrow) — one BLAS matmul
    ``batch @ benchᵀ`` per Arrow batch replaces the interpreted per-row
    HOF fold; identical map-only zero-shuffle scale shape.  ORACLED with
    ``q_prep_semantic_decontaminate``'s text: tests pin the two engines
    result-identical (round-6) on this exact corpus."""
    corpus, bench = _semdecon_inputs(spark, sf_dir)
    return (
        sim_ops.semantic_decontaminate_arrow(corpus, bench, threshold=0.5)
        .select("vec_id", "max_bench_sim", "contaminated")
        .orderBy("vec_id")
    )


def q_dq_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15+E1 duplication census (quality.duplication_profile): content
    clusters per multiplicity with corpus shares — the report read
    before choosing a dedup treatment.  One content-hash shuffle, then
    a multiplicity-bounded histogram aggregate; never row-scale
    output."""
    from dataengineer_spark.operators import quality

    docs = load_table(spark, sf_dir, "documents")
    # same synthetic corpus as q_e1_incremental_dedup: re-crawled copies
    # (new ids, same text) make the multiplicity axis non-degenerate
    recrawl = docs.where(F.col("doc_id") < 100).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return quality.duplication_profile(docs.unionByName(recrawl), "text")


_DQ_DUP_RATE_ORACLE = """
WITH c AS (
  SELECT text FROM documents
  UNION ALL
  SELECT text FROM documents WHERE doc_id < 100
), s AS (
  SELECT count(*) AS sz FROM c GROUP BY text
), h AS (
  SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         CAST(sum(sz) AS BIGINT) AS n_docs
  FROM s GROUP BY sz
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size, n_clusters, n_docs,
       round(CAST(n_docs AS DOUBLE) / (SELECT sum(n_docs) FROM h), 6)
         AS pct_docs
FROM h ORDER BY CAST(cluster_size AS BIGINT)
"""


def q_k9_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 dead-letter sink (catalog.quarantine_write): constraint-routed
    dual append — rows failing any rule land in <table>_quarantine with
    a pipe-joined reject_reason instead of silently vanishing or
    poisoning the clean table.  Effectful (temp-dir lake writes); the
    returned audit manifest is oracled against rule counts recomputed
    directly from the source table."""
    from dataengineer_spark.catalog import Catalog

    root = tempfile.mkdtemp(prefix="spark_graft_k9_")
    cat = Catalog(spark, root)
    orders = load_table(spark, sf_dir, "orders")
    checks = {
        "price_cap_300k": F.col("o_totalprice") <= 300000.0,
        "status_known": F.col("o_orderstatus").isin("O", "F", "P"),
        "has_custkey": F.col("o_custkey").isNotNull(),
    }
    return cat.quarantine_write(orders, "orders_clean", checks).orderBy("rule")


_K9_QUARANTINE_ORACLE = """
-- engine contract throughout: a NULL check result does NOT quarantine
-- (SQL CHECK semantics) — a row is quarantined only when some rule is
-- DEFINITELY violated, so NULL price/status pass their value rules
SELECT '_quarantined' AS rule,
       CAST(sum(CASE WHEN o_totalprice > 300000.0
                 OR o_orderstatus NOT IN ('O','F','P')
                 OR o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n
FROM orders
UNION ALL
SELECT '_valid',
       CAST(sum(CASE WHEN NOT coalesce(o_totalprice > 300000.0, FALSE)
                 AND NOT coalesce(o_orderstatus NOT IN ('O','F','P'), FALSE)
                 AND o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'has_custkey',
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'price_cap_300k',
       CAST(sum(CASE WHEN o_totalprice > 300000.0 THEN 1 ELSE 0 END)
            AS BIGINT)
FROM orders
UNION ALL
SELECT 'status_known',
       -- engine contract: a NULL check result does NOT quarantine (SQL
       -- CHECK semantics) — count only definite violations
       CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                THEN 1 ELSE 0 END) AS BIGINT)
FROM orders
ORDER BY rule
"""


def q_s9_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 schema-evolution scan (sources.read_parquet_merged): batch 1
    written before n_regionkey existed, batch 2 after; mergeSchema
    unions the footers so old files read back NULL-filled — history is
    never rewritten for a schema change.  Effectful (temp-dir write)."""
    from dataengineer_spark.sources import read_parquet_merged

    root = tempfile.mkdtemp(prefix="spark_graft_s9_")
    nation = load_table(spark, sf_dir, "nation")
    nation.select("n_nationkey", "n_name").withColumn(
        "batch", F.lit(1)
    ).write.parquet(root + "/b1")
    nation.select("n_nationkey", "n_name", "n_regionkey").withColumn(
        "batch", F.lit(2)
    ).write.parquet(root + "/b2")
    merged = read_parquet_merged(spark, root + "/b1", root + "/b2")
    return merged.select("n_nationkey", "n_name", "batch", "n_regionkey")


_S9_SCHEMA_EVOLUTION_ORACLE = """
SELECT n_nationkey, n_name, 1 AS batch, CAST(NULL AS BIGINT) AS n_regionkey
FROM nation
UNION ALL
SELECT n_nationkey, n_name, 2, n_regionkey FROM nation
"""


def q_prep_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16 token-budget accounting (preparation.corpus_budget_report):
    per-domain doc/token counts with exact shares + cumulative share,
    heaviest first — the table a mixture design starts from.  One hash
    aggregate; window arithmetic on the domain-bounded result."""
    from dataengineer_spark.operators.preparation import corpus_budget_report

    docs = load_table(spark, sf_dir, "documents")
    return corpus_budget_report(docs, "source")


_PREP_BUDGET_ORACLE = r"""
WITH t AS (
  SELECT source AS domain, count(*) AS n_docs,
         sum(len(list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
                 w -> length(w) > 0))) AS n_tokens
  FROM documents GROUP BY source
)
SELECT domain, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CAST(n_tokens AS DOUBLE) / (SELECT sum(n_tokens) FROM t), 6)
         AS token_share,
       round(CAST(sum(n_tokens) OVER (ORDER BY n_tokens DESC, domain ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / (SELECT sum(n_tokens) FROM t), 6) AS cum_token_share
FROM t ORDER BY n_tokens DESC, domain ASC
"""


def q_prep_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16 temperature-flattened mixture under a token budget
    (preparation.temperature_budget_mixture): each domain gets
    min(S_j, floor(T * sqrt(S_j) / sum(sqrt(S)))) tokens of budget
    (alpha=0.5 — sqrt is correctly rounded under IEEE 754, so DuckDB
    derives the identical budgets), filled greedily in portable-hash
    pseudorandom document order.  T = floor(0.3 * corpus tokens),
    collected control-plane-side.  The alpha<1 up-weighting of tail
    domains is the standard multilingual data-balancing sampler."""
    from dataengineer_spark.operators.preparation import (
        temperature_budget_mixture,
    )

    docs = load_table(spark, sf_dir, "documents")
    return temperature_budget_mixture(
        docs, "source", alpha=0.5, portable=True, budget_fraction=0.3
    ).orderBy("doc_id")


_PREP_TEMPMIX_ORACLE = rf"""
WITH d AS (
  SELECT doc_id, source AS domain,
         CAST(len(list_filter(regexp_split_to_array(coalesce(text, ''),
              '\s+'), w -> length(w) > 0)) AS BIGINT) AS n_tok
  FROM documents WHERE source IS NOT NULL
), s AS (
  SELECT domain, CAST(sum(n_tok) AS BIGINT) AS S FROM d GROUP BY domain
), tot AS (
  SELECT CAST(floor(0.3 * sum(S)) AS BIGINT) AS T FROM s
), wsum AS (
  -- left fold from 0.0 in domain-asc order: the engine's driver-side
  -- accumulation sequence, replayed exactly
  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list(sqrt(CAST(S AS DOUBLE)) ORDER BY domain ASC)),
           (a, b) -> a + b) AS W
  FROM s
), b AS (
  SELECT domain,
         least(S, CAST(floor(T * sqrt(CAST(S AS DOUBLE)) / W) AS BIGINT))
           AS n_j
  FROM s CROSS JOIN tot CROSS JOIN wsum
), h AS (
  SELECT doc_id, domain, n_tok,
    {_duck_poly("CAST(doc_id AS VARCHAR)")} AS hh
  FROM d
), r AS (
  SELECT doc_id, domain, n_tok,
    sum(n_tok) OVER (PARTITION BY domain ORDER BY hh ASC, doc_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM h
)
SELECT r.doc_id, r.domain, r.n_tok
FROM r JOIN b USING (domain) WHERE r.run <= b.n_j ORDER BY r.doc_id
"""


def q_scrub_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E17 corpus-frequency boilerplate removal
    (scrubbing.remove_boilerplate_lines — the CCNet/RefinedWeb line-dedup
    step): lines appearing in >= 20 distinct documents are template text
    and are dropped from every document; rare lines survive in order.
    Scenario: each document gains a per-source "cookie notice" line
    (25 docs/source — boilerplate) and a global footer (all docs);
    the document's own text line survives unless it is a natural
    >=20-way duplicate.  One line-keyed count shuffle + one reassembly
    shuffle; no per-doc rule could make this call."""
    from dataengineer_spark.operators.scrubbing import (
        remove_boilerplate_lines,
    )

    docs = _docs(spark, sf_dir)
    corpus = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(
                F.lit("cookie notice for "),
                F.coalesce(F.col("source"), F.lit("?")),
            ),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit("all rights reserved"),
        ).alias("text"),
    )
    from dataengineer_spark.tuning import carry_lifetime

    cleaned = remove_boilerplate_lines(corpus, min_docs=20)
    return carry_lifetime(cleaned.orderBy("doc_id"), cleaned)


_SCRUB_BOILERPLATE_ORACLE = """
WITH corpus AS (
  SELECT doc_id,
         'cookie notice for ' || coalesce(source, '?') || chr(10)
         || coalesce(text, '') || chr(10) || 'all rights reserved' AS text
  FROM documents
), lx AS (
  SELECT doc_id,
         list_filter(string_split(text, chr(10)), x -> x <> '') AS ls
  FROM corpus
), l AS (
  SELECT doc_id, unnest(generate_series(1, len(ls))) AS pos,
         unnest(ls) AS line
  FROM lx
), freq AS (
  SELECT line FROM (
    SELECT line, count(*) AS nd
    FROM (SELECT DISTINCT doc_id, line FROM l) GROUP BY line
  ) WHERE nd >= 20
), kept AS (
  SELECT * FROM l WHERE line NOT IN (SELECT line FROM freq)
), reb AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT c.doc_id, coalesce(reb.text_clean, '') AS text_clean,
       CAST(len(list_filter(string_split(c.text, chr(10)), x -> x <> ''))
            AS BIGINT) AS n_lines,
       coalesce(reb.n_kept, 0) AS n_kept
FROM corpus c LEFT JOIN reb USING (doc_id) ORDER BY c.doc_id
"""


def q_e2_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2+O6 incremental NEAR-dup (dedup.incremental_neardup): the new
    batch (fresh docs + 50 re-crawls with new ids) probes the STORED
    signature_table index of previously-ingested content — history is
    never re-shingled; the only shuffle ships 24-byte (band, bucket)
    rows.  Portable hash family → the oracle replays both sides'
    signatures, the band probe, and the anti join bit-for-bit."""
    return _incneardup_probe(spark, sf_dir, "portable")


def _incneardup_probe(
    spark: SparkSession, sf_dir: str, family: str
) -> DataFrame:
    """Shared scenario for the stored-index probe engine twins (fresh
    docs + 50 re-crawls vs the doc_id<250 history) — ONE builder so the
    rows-only Arrow twin provably runs the identical split/index shape
    as its oracled portable sibling."""
    docs = load_table(spark, sf_dir, "documents")
    seen = docs.where(F.col("doc_id") < 250)
    seen_bands = dedup_ops.signature_table(
        seen, "doc_id", "text", shingle_size=5, num_hashes=32, bands=4,
        family=family,
    )
    recrawl = docs.where(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + 5000
    )
    new = docs.where(F.col("doc_id") >= 250).unionByName(recrawl)
    kept = dedup_ops.incremental_neardup(
        new, seen_bands, "doc_id", "text", shingle_size=5, num_hashes=32,
        bands=4, family=family,
    )
    return kept.select("doc_id", "lang")


def q_e2_incremental_neardup_arrow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rows-only: the stored-signature-index probe on the PRODUCTION
    engine layer — vectorized Arrow/numpy signatures
    (dedup.minhash_signatures_arrow: rolling-hash byte windows + one
    broadcast affine min per doc) feeding the identical band-bucket
    probe/anti-join plan that the oracled ``q_e2_incremental_neardup``
    twin hash-verifies with the portable family.  ~29× the portable
    family's wall at sf0.1 (38→1.3 s); this is the form that benches
    and ships."""
    return _incneardup_probe(spark, sf_dir, "arrow")


def _index_probe_oracle(newb_sql: str) -> str:
    """Shared SQL builder for the stored-signature probe family
    (q_e2_incremental_neardup and its streaming twin): replays the
    portable MinHash signatures of the seen set AND the given new-batch
    CTE, the 4-band raw-tuple buckets, the (band, bucket) probe, and the
    anti join — bit-for-bit."""
    return f"""
WITH seen AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 250
), newb AS (
  {newb_sql}
), {_duck_minhash("banded_s", "seen", "doc_id", 32, 4)},
{_duck_minhash("banded_n", "newb", "doc_id", 32, 4)}, flagged AS (
  SELECT DISTINCT n.doc_id
  FROM banded_n n JOIN banded_s s2
    ON n.band = s2.band AND n.bucket = s2.bucket
)
SELECT nb.doc_id, nb.lang
FROM newb nb LEFT JOIN flagged f ON f.doc_id = nb.doc_id
WHERE f.doc_id IS NULL
"""


def _incremental_neardup_oracle() -> str:
    return _index_probe_oracle(
        "SELECT doc_id, text, lang FROM documents WHERE doc_id >= 250\n"
        "  UNION ALL\n"
        "  SELECT doc_id + 5000, text, lang FROM documents WHERE doc_id < 50"
    )


def q_e11_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11 × E2: near-dup-FILTERED ingest — the documents stream probes
    the stored signature_table index per micro-batch (foreachBatch, the
    reference's own per-batch contract) and only surviving rows land in
    the lake.  The index is fixed for the run, so the result is
    micro-batch-split-invariant and the batch SQL oracle checks the
    streamed output row-for-row.  No state store: the index IS the
    state, in the lake where it belongs."""
    return _stream_neardup_run(spark, sf_dir, "portable")


def _stream_neardup_run(
    spark: SparkSession, sf_dir: str, family: str
) -> DataFrame:
    """Shared runner for the streaming near-dup-ingest engine twins —
    ONE builder (index split, checkpointed availableNow run, lake
    read-back) so the rows-only Arrow twin provably streams the
    identical pipeline as its oracled portable sibling."""
    from dataengineer_spark.streaming import (
        stream_documents,
        stream_neardup_filter,
    )

    docs_batch = load_table(spark, sf_dir, "documents")
    seen = docs_batch.where(F.col("doc_id") < 250)
    idx = dedup_ops.signature_table(
        seen, "doc_id", "text", shingle_size=5, num_hashes=32, bands=4,
        family=family,
    ).localCheckpoint()  # fixed for the run; sized for broadcast
    out_dir = tempfile.mkdtemp(prefix="spark_graft_snd_") + "/kept"
    s = stream_documents(spark, sf_dir + "/documents.parquet")
    q = stream_neardup_filter(
        s, idx, out_dir, shingle_size=5, num_hashes=32, bands=4,
        family=family,
        checkpoint=tempfile.mkdtemp(prefix="spark_graft_snd_ck_"),
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).select("doc_id", "lang")


def q_e11_stream_neardup_arrow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rows-only: near-dup-filtered streaming ingest on the PRODUCTION
    Arrow/numpy signature engine — identical foreachBatch
    probe/lake-append pipeline to the oracled portable twin
    ``q_e11_stream_neardup`` (which hash-verifies the plan); this is
    the bench/deploy form."""
    return _stream_neardup_run(spark, sf_dir, "arrow")


def _stream_neardup_oracle() -> str:
    return _index_probe_oracle("SELECT doc_id, text, lang FROM documents")


#: (batch, newb-SQL) micro-batch plan shared by the live-ingest engine run
#: and its oracle — the split IS part of the deploy semantics (arrival
#: order matters), so both sides must replay the same one.  Batch 2's
#: +5000 re-crawls near-dup batch-1 content (caught ONLY because the index
#: is maintained intra-run); batch 3 carries +6000/+7000 twin pairs of
#: docs 480-489 — which are never ingested themselves — so the smaller-id
#: copy must survive and the larger must drop via WITHIN-batch self-dedup.
_STREAM_LIVE_BATCHES = [
    "SELECT doc_id{c} FROM documents WHERE doc_id < 150",
    "SELECT doc_id{c} FROM documents"
    " WHERE doc_id >= 150 AND doc_id < 300"
    " UNION ALL SELECT doc_id + 5000{c} FROM documents"
    " WHERE doc_id < 30",
    "SELECT doc_id{c} FROM documents"
    " WHERE doc_id >= 300 AND doc_id < 480"
    " UNION ALL SELECT doc_id + 6000{c} FROM documents"
    " WHERE doc_id >= 480 AND doc_id < 490"
    " UNION ALL SELECT doc_id + 7000{c} FROM documents"
    " WHERE doc_id >= 480 AND doc_id < 490",
]


def q_e11_stream_neardup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11 × E2 DEPLOY form (streaming.stream_neardup_ingest, VERDICT r9
    item 2): near-dup-filtered ingest whose signature index is MAINTAINED
    intra-run — each micro-batch's survivors append their band rows
    before the next batch probes, and mutual near-dups within one batch
    keep the smaller id.  Three deterministic micro-batches (one parquet
    file each, mtime-ordered, maxFilesPerTrigger=1); the oracle replays
    the identical split as a 3-layer SQL fold over the portable signature
    family — batch-boundary semantics are CHECKED, not waived."""
    import os
    import shutil

    from dataengineer_spark.streaming import (
        compact_neardup_ingest,
        stream_documents,
        stream_neardup_ingest,
    )

    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    root = tempfile.mkdtemp(prefix="spark_graft_sndl_")
    stream_dir = os.path.join(root, "feed")
    os.makedirs(stream_dir)
    now = time.time()
    for i, batch_sql in enumerate(_STREAM_LIVE_BATCHES, start=1):
        stage = os.path.join(root, f"stage{i}")
        spark.sql(
            batch_sql.format(c=", text, lang, source, n_chars")
        ).coalesce(1).write.parquet(stage)
        part = next(
            f for f in os.listdir(stage)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        dst = os.path.join(stream_dir, f"b{i}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        # the file source processes oldest-modified first
        # (latestFirst=false): pin strictly increasing mtimes so the
        # micro-batch order is the one the oracle replays
        os.utime(dst, (now - 300 + i * 100, now - 300 + i * 100))
    s = stream_documents(spark, stream_dir)
    # n_index_buckets sized to bench scale (one bucket ≈ one task); at
    # deploy it scales with accepted-history size, not stream length
    q = stream_neardup_ingest(
        s,
        os.path.join(root, "index"),
        os.path.join(root, "kept"),
        shingle_size=5, num_hashes=32, bands=4, family="portable",
        checkpoint=os.path.join(root, "ck"),
        n_index_buckets=8,
    )
    q.awaitTermination()
    # maintenance compaction (VERDICT r10 item 1): collapse the per-epoch
    # index/out file spray; values unchanged — the oracle hash proves it
    compact_neardup_ingest(
        spark, os.path.join(root, "index"), os.path.join(root, "kept"),
        n_buckets=8,
    )
    return spark.read.parquet(os.path.join(root, "kept")).select(
        "doc_id", "lang"
    )


def _stream_live_oracle() -> str:
    """3-layer SQL fold of the live-ingest semantics over the portable
    MinHash family: per batch, self-dedup (smaller-id collision in the
    SAME batch, unconditional on that doc's own survival) then the probe
    against the bands of everything kept in STRICTLY earlier batches."""
    corpus = "\n  UNION ALL\n".join(
        f"SELECT {i} AS batch, * FROM ({b.format(c=', text, lang')})"
        for i, b in enumerate(_STREAM_LIVE_BATCHES, start=1)
    )
    return f"""
WITH corpus AS (
  {corpus}
), {_duck_minhash("banded", "corpus", "batch, doc_id", 32, 4)}, selfflag AS (
  SELECT DISTINCT a.doc_id
  FROM banded a JOIN banded b
    ON a.batch = b.batch AND a.band = b.band AND a.bucket = b.bucket
   AND b.doc_id < a.doc_id
), kept1 AS (
  SELECT doc_id FROM corpus WHERE batch = 1
    AND doc_id NOT IN (SELECT doc_id FROM selfflag)
), idx1 AS (
  SELECT band, bucket FROM banded
  WHERE doc_id IN (SELECT doc_id FROM kept1)
), kept2 AS (
  SELECT c.doc_id FROM corpus c WHERE c.batch = 2
    AND c.doc_id NOT IN (SELECT doc_id FROM selfflag)
    AND NOT EXISTS (
      SELECT 1 FROM banded bn JOIN idx1 i
        ON bn.band = i.band AND bn.bucket = i.bucket
      WHERE bn.doc_id = c.doc_id)
), idx2 AS (
  SELECT * FROM idx1
  UNION ALL
  SELECT band, bucket FROM banded
  WHERE doc_id IN (SELECT doc_id FROM kept2)
), kept3 AS (
  SELECT c.doc_id FROM corpus c WHERE c.batch = 3
    AND c.doc_id NOT IN (SELECT doc_id FROM selfflag)
    AND NOT EXISTS (
      SELECT 1 FROM banded bn JOIN idx2 i
        ON bn.band = i.band AND bn.bucket = i.bucket
      WHERE bn.doc_id = c.doc_id)
), keptall AS (
  SELECT doc_id FROM kept1
  UNION ALL SELECT doc_id FROM kept2
  UNION ALL SELECT doc_id FROM kept3
)
SELECT c.doc_id, c.lang FROM corpus c
JOIN keptall k ON c.doc_id = k.doc_id
"""


def q_k10_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K10 CDC apply (catalog.apply_cdc): replication-consumer MERGE of
    an insert/update/delete change batch into the lake — updates replace
    by key, deletes physically drop the key, inserts append; rewrite
    volume follows the batch via merge_upsert's staged-swap machinery.
    Effectful (temp-dir lake writes); read-back oracled against the
    change set replayed in SQL over the source table."""
    from dataengineer_spark.catalog import Catalog

    root = tempfile.mkdtemp(prefix="spark_graft_k10_")
    cat = Catalog(spark, root)
    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    base = orders.where(F.col("o_orderkey") < 2000).select(*cols)
    cat.write(base, "orders_cdc", mode="overwrite")
    k = F.col("o_orderkey")
    updates = (
        base.where((k % 7 == 0))
        .withColumn("o_totalprice", F.round(F.col("o_totalprice") + 1000.0, 2))
        .withColumn("op", F.lit("U"))
    )
    deletes = base.where((k % 11 == 0) & (k % 7 != 0)).withColumn(
        "op", F.lit("D")
    )
    inserts = (
        orders.where((k >= 2000) & (k < 2050)).select(*cols)
        .withColumn("op", F.lit("I"))
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    cat.apply_cdc(changes, "orders_cdc", ["o_orderkey"], op_col="op")
    return cat.read("orders_cdc").select(*cols)


_K10_CDC_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       CASE WHEN o_orderkey % 7 = 0 THEN round(o_totalprice + 1000.0, 2)
            ELSE o_totalprice END AS o_totalprice
FROM orders
WHERE o_orderkey < 2000
  AND NOT (o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0)
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
FROM orders WHERE o_orderkey >= 2000 AND o_orderkey < 2050
"""


def q_e1_dedup_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 survivorship-rule dedup (dedup.content_dedup_by): within each
    content cluster keep the HIGHEST-quality copy (here: longest text,
    ties to lowest id) instead of min id — the curation form, where
    re-crawls differ in metadata quality.  Same corpus as q_dq_dup_rate
    (re-crawls carry new ids ≥ 1e6, so the original always wins on the
    id tie-break, pinning determinism).  One content-hash window
    shuffle, rule = ORDER BY."""
    docs = load_table(spark, sf_dir, "documents")
    recrawl = docs.where(F.col("doc_id") < 100).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    both = docs.unionByName(recrawl)
    return dedup_ops.content_dedup_by(
        both, "text", "doc_id", F.col("n_chars")
    ).select("doc_id", "lang")


_E1_DEDUP_BY_ORACLE = """
WITH c AS (
  SELECT doc_id, text, lang, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, lang, n_chars FROM documents
  WHERE doc_id < 100
), r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY text
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM c
)
SELECT doc_id, lang FROM r WHERE rn = 1
"""


def q_s10_corrupt_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 malformed-feed ingest (sources.read_json_permissive): a JSONL
    feed where every doc_id % 97 == 0 line is mangled; PERMISSIVE mode
    lands bad lines verbatim in _corrupt_record (fields NULL) instead of
    failing or silently dropping — the quarantine-ready ingest contract.
    Effectful (temp-dir feed write via text lines)."""
    from dataengineer_spark import schemas as S
    from dataengineer_spark.sources import read_json_permissive

    docs = load_table(spark, sf_dir, "documents")
    feed_dir = tempfile.mkdtemp(prefix="spark_graft_s10_") + "/feed"
    # good lines are real JSON; bad lines are truncated prefixes (never
    # valid JSON, deterministic content)
    lines = docs.select(
        F.when(
            F.col("doc_id") % 97 == 0,
            F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string")),
        )
        .otherwise(F.to_json(F.struct("doc_id", "lang", "n_chars")))
        .alias("value")
    )
    lines.coalesce(1).write.mode("overwrite").text(feed_dir)
    schema = (
        "doc_id long, lang string, n_chars long"
    )
    from pyspark.sql import types as T

    parsed = read_json_permissive(
        spark, feed_dir, T._parse_datatype_string(schema)
    )
    _ = S  # schemas import kept for parity with sibling S-queries
    return parsed.select(
        "doc_id", "lang", "n_chars",
        F.col("_corrupt_record").isNotNull().alias("is_corrupt"),
    )


_S10_CORRUPT_JSON_ORACLE = """
SELECT CASE WHEN doc_id % 97 = 0 THEN NULL ELSE doc_id END AS doc_id,
       CASE WHEN doc_id % 97 = 0 THEN NULL ELSE lang END AS lang,
       CASE WHEN doc_id % 97 = 0 THEN NULL ELSE n_chars END AS n_chars,
       doc_id % 97 = 0 AS is_corrupt
FROM documents
"""


def q_a6_abtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family two-proportion A/B test (agg_ops.ab_test_report): events
    bucketed into 3 deterministic variants by user hash, success =
    purchase; per-variant rates + pairwise pooled z.  One hash
    aggregate to variant cardinality, pairwise stats on the tiny
    per-variant frame — integral counts, engine-exact rates, two IEEE
    sqrt's for z."""
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.select(
        F.concat(F.lit("v"), (F.col("user_id") % 3).cast("string")).alias(
            "variant"
        ),
        (F.col("event_type") == "purchase").alias("ok"),
    )
    return agg_ops.ab_test_report(tagged, "variant", F.col("ok"))


_A6_ABTEST_ORACLE = """
WITH per AS (
  SELECT 'v' || CAST(user_id % 3 AS VARCHAR) AS variant,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS s
  FROM events GROUP BY 1
)
SELECT a.variant AS variant_a, b.variant AS variant_b,
       a.n AS n_a, b.n AS n_b,
       round(CAST(a.s AS DOUBLE) / a.n, 6) AS rate_a,
       round(CAST(b.s AS DOUBLE) / b.n, 6) AS rate_b,
       -- engine NULLs z when the pooled SE is 0 (all/none convert);
       -- unguarded IEEE division would yield ±inf/nan here instead
       round(CASE WHEN a.s + b.s > 0 AND a.s + b.s < a.n + b.n
             THEN (CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
             / sqrt((CAST(a.s + b.s AS DOUBLE) / (a.n + b.n))
                    * (1.0 - CAST(a.s + b.s AS DOUBLE) / (a.n + b.n))
                    * (1.0 / a.n + 1.0 / b.n)) END, 6) AS z
FROM per a JOIN per b ON a.variant < b.variant
"""


# ---------------------------------------------------------------------------
# round-6 continuation: curation / evaluation additions
# ---------------------------------------------------------------------------


def q_prep_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16 group-aware k-fold (preparation.kfold_assign): every document
    of one source lands in the same fold — near-duplicate families never
    straddle a fold boundary (the cross-validation analogue of
    q_prep_split_leakage's rule). Fold id is the engine-portable char
    fold of the group key alone; the report certifies both balance
    (n_docs) and group integrity (n_groups sums to the source count)."""
    from dataengineer_spark.operators.preparation import kfold_assign

    docs = load_table(spark, sf_dir, "documents")
    folds = kfold_assign(docs, "source", k=5, salt="cv")
    return folds.groupBy("fold").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_groups"),
    )


_PREP_KFOLD_ORACLE = f"""
WITH t AS (
  SELECT source,
    CAST({_duck_poly("coalesce(source, '') || 'cv'")} % 5 AS INT) AS fold
  FROM documents
)
SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_groups
FROM t GROUP BY fold
"""


def q_a7_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21 operating-point sweep (aggregates.pr_curve): precision /
    recall / F1 of the score 'first embedding component' against the
    binary label 'label >= 5' over a 7-point threshold grid — one corpus
    scan, map-side explode of the plan-literal grid, exact int64
    confusion counts, single int/int IEEE divisions (no rounding step
    needed for parity)."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        F.element_at("embedding", 1).cast("double").alias("score"),
        (F.col("label") >= 5).alias("y"),
    )
    return agg_ops.pr_curve(
        scored, "score", F.col("y"),
        [-0.3, -0.2, -0.1, 0.0, 0.1, 0.2, 0.3],
    )


_A7_PR_CURVE_ORACLE = """
WITH g AS (
  SELECT CAST(unnest([-0.3, -0.2, -0.1, 0.0, 0.1, 0.2, 0.3]) AS DOUBLE)
    AS threshold
), s AS (
  SELECT CAST(embedding[1] AS DOUBLE) AS score, label >= 5 AS y
  FROM embeddings
), c AS (
  SELECT threshold,
    CAST(count(CASE WHEN score >= threshold AND y THEN 1 END) AS BIGINT) AS tp,
    CAST(count(CASE WHEN score >= threshold AND NOT y THEN 1 END) AS BIGINT) AS fp,
    CAST(count(CASE WHEN NOT coalesce(score >= threshold, false) AND y THEN 1 END)
      AS BIGINT) AS fn
  FROM s CROSS JOIN g GROUP BY threshold
), pr AS (
  SELECT threshold, tp, fp, fn,
    CASE WHEN tp + fp > 0 THEN tp / (tp + fp) END AS "precision",
    CASE WHEN tp + fn > 0 THEN tp / (tp + fn) END AS recall
  FROM c
)
SELECT threshold, tp, fp, fn, "precision", recall,
  CASE WHEN "precision" + recall > 0
       THEN 2 * "precision" * recall / ("precision" + recall) END AS f1
FROM pr ORDER BY threshold
"""


def q_e3_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 index-quality audit (similarity.ann_recall): recall@10 of the
    IVF index (16 cells, 4 probed) against exact brute force over the
    same 20-query probe set — the number n_probe is tuned by. The probe
    set is a bounded literal filter, so the exact side is declared small
    (allow_quadratic): the plan stays pure (no guard probe job). ORACLED
    end to end: both rankings, the overlap join, and the exact int/int
    recall are replayed from the plan-literal codebook."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    probes = emb.where(F.col("vec_id") < 20)
    return sim_ops.ann_recall(
        probes, emb, dim=64, k=10, n_centroids=16, n_probe=4,
        allow_quadratic=True,
    )


def _ann_recall_oracle() -> str:
    from dataengineer_spark.operators.similarity import _centroids

    dim, k, n_centroids, n_probe = 64, 10, 16, 4
    cents = _centroids(dim, n_centroids, seed=7)
    cm = (
        "["
        + ", ".join("[" + ", ".join(repr(x) for x in c) + "]" for c in cents)
        + "]"
    )
    scores = (
        f"list_transform(generate_series(0, {n_centroids - 1}), "
        "i -> {'score': list_reduce(list_transform("
        f"generate_series(1, {dim}), "
        "j -> v[j] * cm[i + 1][j]), (a, b) -> a + b), 'cell': i})"
    )
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), lits AS (
  SELECT CAST({cm} AS DOUBLE[][]) AS cm
), bk AS (
  SELECT vec_id, v,
    {scores} AS scores,
    sqrt(list_reduce(list_transform(generate_series(1, {dim}),
      j -> v[j] * v[j]), (a, b) -> a + b)) AS nrm
  FROM e CROSS JOIN lits
), c AS (
  SELECT vec_id AS corpus_id, v AS cv, nrm AS cn,
         (list_max(scores)).cell AS cell
  FROM bk
), q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn, scores
  FROM bk WHERE vec_id < 20
), ex_scored AS (
  SELECT q.query_id, b.vec_id AS corpus_id,
    CASE WHEN q.qn * b.nrm > 0 THEN
      list_reduce(list_transform(generate_series(1, {dim}),
        j -> q.qv[j] * b.v[j]), (x, y) -> x + y) / (q.qn * b.nrm)
    END AS cos_sim
  FROM q CROSS JOIN bk b
), exact AS (
  SELECT query_id, corpus_id FROM (
    SELECT query_id, corpus_id, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC NULLS LAST, corpus_id
    ) AS rn FROM ex_scored
  ) WHERE rn <= {k}
), probes AS (
  SELECT query_id, qv, qn,
         unnest(list_slice(list_reverse(list_sort(scores)), 1, {n_probe})) AS p
  FROM q
), ap_scored AS (
  SELECT probes.query_id, c.corpus_id,
    CASE WHEN probes.qn * c.cn > 0 THEN
      list_reduce(list_transform(generate_series(1, {dim}),
        j -> probes.qv[j] * c.cv[j]), (x, y) -> x + y) / (probes.qn * c.cn)
    END AS cos_sim
  FROM probes JOIN c ON (probes.p).cell = c.cell
), approx AS (
  SELECT query_id, corpus_id FROM (
    SELECT query_id, corpus_id, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC NULLS LAST, corpus_id
    ) AS rn FROM ap_scored
  ) WHERE rn <= {k}
)
SELECT x.query_id, CAST(count(a.corpus_id) AS BIGINT) AS n_hit,
       CAST(count(a.corpus_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
FROM exact x LEFT JOIN approx a USING (query_id, corpus_id)
GROUP BY x.query_id ORDER BY query_id
"""


def q_e4_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 tokenizer-budget table (textops.token_fertility): characters
    and utf-8 bytes per whitespace token, per language slice — exact
    int64 numerator/denominator sums divided once per group (engine-
    portable, no per-row float accumulation)."""
    return textops.token_fertility(_docs(spark, sf_dir), group_col="lang")


_E4_FERTILITY_ORACLE = r"""
WITH t AS (
  SELECT lang,
    CAST(CASE WHEN length(regexp_replace(coalesce(text, ''), '^\s+|\s+$', '', 'g')) = 0 THEN 0
         ELSE len(regexp_split_to_array(regexp_replace(coalesce(text, ''), '^\s+|\s+$', '', 'g'), '\s+'))
         END AS BIGINT) AS toks,
    CAST(length(text) AS BIGINT) AS ch,
    CAST(strlen(text) AS BIGINT) AS byt
  FROM documents
)
SELECT lang AS grp, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS n_tokens,
       CASE WHEN sum(toks) > 0
            THEN CAST(sum(ch) AS DOUBLE) / CAST(sum(toks) AS DOUBLE)
       END AS chars_per_token,
       CASE WHEN sum(toks) > 0
            THEN CAST(sum(byt) AS DOUBLE) / CAST(sum(toks) AS DOUBLE)
       END AS bytes_per_token
FROM t GROUP BY lang ORDER BY lang
"""


def q_f14_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19 Zipf coverage prefix (preparation.vocab_coverage): the
    smallest top-frequency vocabulary covering 90% of corpus token mass
    — integer-exact prefix cut (100*cum_before < 90*total in int64), so
    the kept rows are engine-portable with no float threshold."""
    from dataengineer_spark.operators.preparation import vocab_coverage

    return vocab_coverage(_docs(spark, sf_dir), coverage_pct=90)


_F14_VOCAB_COVERAGE_ORACLE = """
WITH w AS (
  SELECT unnest(regexp_split_to_array(
    regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) AS word
  FROM documents
), wc AS (
  SELECT word, count(*) AS n FROM w WHERE length(word) > 0 GROUP BY word
), r AS (
  SELECT word, n,
         row_number() OVER (ORDER BY n DESC, word) AS rank,
         sum(n) OVER (ORDER BY n DESC, word
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
         sum(n) OVER () AS tot
  FROM wc
)
SELECT CAST(rank AS INT) AS rank, word, CAST(n AS BIGINT) AS n,
       CAST(cum_n AS BIGINT) AS cum_n
FROM r WHERE (cum_n - n) * 100 < tot * 90 ORDER BY rank
"""


def q_e6_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 event-TIME trailing window (windows.trailing_range_agg): per
    user, count/min/max of activity in the trailing 7 days anchored to
    epoch seconds (RANGE frame — gap- and burst-correct where a ROWS
    frame silently is not). Order-independent aggregates only, so the
    doubles are bit-identical on both engines with no rounding step."""
    ev = load_table(spark, sf_dir, "events")
    out = win_ops.trailing_range_agg(ev, "user_id", "ts", 7 * 86400, "value")
    return out.select(
        "event_id", "user_id", "trailing_n", "trailing_min", "trailing_max"
    )


_E6_RANGE_FRAME_ORACLE = """
SELECT event_id, user_id,
       CAST(count(*) OVER w AS BIGINT) AS trailing_n,
       min(value) OVER w AS trailing_min,
       max(value) OVER w AS trailing_max
FROM events
WINDOW w AS (PARTITION BY user_id
             ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
"""


def q_e10_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10 first-order transition matrix (events.transition_counts):
    per-user successor pairs under the total (ts, event_id) order — one
    lead() window partitioned by user, one hash aggregate over the
    |types|^2-bounded key space."""
    ev = load_table(spark, sf_dir, "events")
    return event_ops.transition_counts(ev)


_E10_TRANSITIONS_ORACLE = """
WITH p AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events
)
SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
FROM p WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
"""


def q_prep_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16 padding-efficiency report (preparation.length_bucket_report):
    documents binned to the smallest multiple-of-16 sequence length
    holding their token count (capped at 64 → over-cap counts as
    truncated), with exact pad-token accounting per bucket — the basis
    for choosing bucket granularity in a length-bucketed dataloader."""
    from dataengineer_spark.operators.preparation import length_bucket_report

    return length_bucket_report(_docs(spark, sf_dir), bucket=16, cap=64)


_PREP_LENGTH_BUCKETS_ORACLE = r"""
WITH t AS (
  SELECT least(CAST(CASE WHEN length(regexp_replace(coalesce(text, ''), '^\s+|\s+$', '', 'g')) = 0 THEN 0
           ELSE len(regexp_split_to_array(regexp_replace(coalesce(text, ''), '^\s+|\s+$', '', 'g'), '\s+'))
           END AS BIGINT), 64) AS t
  FROM documents
), b AS (
  SELECT t, greatest(CAST(floor((t + 15) / 16) AS BIGINT) * 16,
                     CAST(16 AS BIGINT)) AS bucket_len
  FROM t
)
SELECT bucket_len, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(t) AS BIGINT) AS n_tokens,
       CAST(bucket_len * count(*) - sum(t) AS BIGINT) AS n_pad,
       CAST(sum(t) AS DOUBLE) / CAST(bucket_len * count(*) AS DOUBLE)
         AS efficiency
FROM b GROUP BY bucket_len ORDER BY bucket_len
"""


def q_e3_pq_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 compression audit (sim_ops.pq_reconstruction_error): per-
    subspace PQ reconstruction MSE over the corpus — the drift signal
    that triggers a codebook retrain. ORACLED end to end: DuckDB replays
    the encode (same argmax/tie rules as q_e3_pq_topk's oracle), the
    literal-codebook reconstruction, the left-fold squared error, and
    the DECIMAL-exact corpus mean."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    cb = sim_ops.pq_codebook(64, m=8, ksub=16, seed=11)
    return sim_ops.pq_reconstruction_error(emb, cb)


def _pq_error_oracle() -> str:
    cb = sim_ops.pq_codebook(64, m=8, ksub=16, seed=11)
    dsub = len(cb[0][0])
    pq = _pq_relational_ctes(cb, None, "e")  # encode-only shared prefix
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), {pq}, err AS (
  SELECT j, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(generate_series(1, {dsub}),
        t -> (v[j * {dsub} + t] - cvec[t]) * (v[j * {dsub} + t] - cvec[t]))),
      (a, b) -> a + b) AS se
  FROM best
)
SELECT CAST(j AS INT) AS subspace, CAST(count(*) AS BIGINT) AS n_vecs,
       round(CAST(sum(CAST(se AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6)
         AS mse
FROM err GROUP BY j ORDER BY j
"""


def q_a8_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21 deterministic Poisson-bootstrap CI (aggregates.
    bootstrap_metric_ci) for the accuracy of the sign-of-first-component
    stand-in classifier against 'label >= 5' — 100 hash-seeded replicas,
    exact int64 per-replica counts, rank-picked 90% CI, DECIMAL-exact
    replica mean. The uncertainty number an eval table should carry."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        "vec_id",
        (
            (F.element_at("embedding", 1).cast("double") > 0)
            == (F.col("label") >= 5)
        ).cast("int").alias("correct"),
    )
    return agg_ops.bootstrap_metric_ci(
        scored, "correct", "vec_id", n_replicas=100, lo_rank=6, hi_rank=95
    )


def _bootstrap_oracle() -> str:
    from dataengineer_spark.operators.aggregates import (
        BOOTSTRAP_SALT,
        POISSON1_CDF,
    )
    from dataengineer_spark.operators.preparation import SPLIT_MULT

    cases = "\n    ".join(
        f"WHEN u < {cdf!r} THEN {k}" for k, cdf in enumerate(POISSON1_CDF)
    )
    return f"""
WITH s AS (
  SELECT vec_id,
    CASE WHEN (CAST(embedding[1] AS DOUBLE) > 0) = (label >= 5)
         THEN 1 ELSE 0 END AS c
  FROM embeddings
), f AS (
  SELECT vec_id, c, unnest(generate_series(1, 100)) AS b FROM s
), uu AS (
  SELECT b, c,
    (((vec_id % 2147483648) * {SPLIT_MULT} + b * {BOOTSTRAP_SALT})
      % 2147483648) / 2147483648.0 AS u
  FROM f
), ww AS (
  SELECT b, c, CASE
    {cases}
    ELSE {len(POISSON1_CDF)} END AS w
  FROM uu
), per AS (
  SELECT b, sum(w) AS nw, sum(w * c) AS nc FROM ww GROUP BY b
), acc AS (
  SELECT b, CASE WHEN nw > 0
                 THEN CAST(nc AS DOUBLE) / CAST(nw AS DOUBLE) END AS acc
  FROM per
), r AS (
  SELECT acc, row_number() OVER (ORDER BY acc ASC NULLS LAST, b) AS rn
  FROM acc
)
SELECT CAST(100 AS BIGINT) AS n_replicas,
  round(CAST(sum(CAST(acc AS DECIMAL(28,12))) AS DOUBLE) / 100, 6) AS mean_acc,
  round((SELECT acc FROM r WHERE rn = 6), 6) AS ci_lo,
  round((SELECT acc FROM r WHERE rn = 95), 6) AS ci_hi
FROM acc
"""


def q_e9_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 interval×interval overlap self-join (joins.
    interval_overlap_join): events become 10-60 min sessions
    (deterministic from event_id), and the operator finds all
    overlapping session pairs per user via temporal-bucket
    decomposition — (user, hour-bucket) equi-join, each pair emitted
    once in max(start) 's bucket, exact integer overlap seconds."""
    ev = load_table(spark, sf_dir, "events")
    start = F.col("ts").cast("long")
    iv = ev.select(
        "user_id",
        "event_id",
        start.alias("start_s"),
        (start + 600 * (F.pmod(F.col("event_id"), F.lit(6)) + 1)).alias(
            "end_s"
        ),
    )
    return join_ops.interval_overlap_join(
        iv, "user_id", "start_s", "end_s", "event_id", 3600
    )


_E9_INTERVAL_ORACLE = """
WITH iv AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + 600 * (event_id % 6 + 1) AS e
  FROM events
)
SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
       CAST(least(a.e, b.e) - greatest(a.s, b.s) AS BIGINT) AS overlap_s
FROM iv a JOIN iv b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND a.s <= b.e AND b.s <= a.e
"""


#: synthetic recrawl for the recall audit / provenance matrix — mutated
#: near-dup copies (shared by query and oracle; the testdata has no
#: natural near-dups at threshold 0.5)
_RECALL_TAIL = " extra tail words"


def q_e2_neardup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 index-quality audit (dedup.neardup_recall): recall of the
    4-band/32-hash MinHash-LSH near-dup index against exact shingle-
    Jaccard ground truth, on a 400-doc bounded sample seeded with
    mutated recrawl copies — the number the (bands, rows) s-curve is
    tuned by, the dedup analogue of q_e3_ann_recall. Portable hash
    family; ORACLED end to end (ground truth, band candidates, and the
    recall division all replayed)."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 400).select(
        "doc_id", "text"
    )
    mutated = docs.where(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_RECALL_TAIL)).alias("text"),
    )
    corpus = docs.unionByName(mutated)
    return dedup_ops.neardup_recall(
        corpus, "doc_id", "text", shingle_size=5, num_hashes=32, bands=4,
        threshold=0.5, family="portable", allow_quadratic=True,
    )


def _neardup_recall_oracle() -> str:
    """Ground truth as an inverted index: the docs' distinct shingles,
    self-joined on the shingle and counted per pair, give ``|A∩B|``, and
    ``|A∪B| = |A| + |B| − |A∩B|`` (``dedup._jaccard_sql``'s size identity).
    A pair sharing no shingle has Jaccard 0, below the threshold, so the
    all-pairs intersect is never built."""
    d_body = f"""SELECT doc_id, text FROM documents WHERE doc_id < 400
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text || '{_RECALL_TAIL}' AS text
  FROM documents WHERE doc_id < 400 AND doc_id % 10 = 3"""
    prefix = _minhash_cte_prefix(d_body)
    return f"""
WITH {prefix}, shset AS (
  SELECT doc_id, {_duck_shingles(5)} AS ss FROM d
), sh AS (
  SELECT doc_id, len(ss) AS n, unnest(ss) AS s FROM shset
), truth AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id, a.n, b.n
  HAVING count(*) * 1.0 / (a.n + b.n - count(*)) >= 0.5
), hit AS (
  SELECT t.id_a, CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS f
  FROM truth t LEFT JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b
)
SELECT CAST(count(*) AS BIGINT) AS n_true,
       CAST(coalesce(sum(f), 0) AS BIGINT) AS n_found,
       CASE WHEN count(*) > 0
            THEN CAST(sum(f) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       END AS recall
FROM hit
"""


def q_e4_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 memorization/boilerplate signal (textops.ngram_novelty): per
    document, the share of its distinct word 3-grams appearing in no
    other document — two shuffles (gram document-frequency aggregate +
    gram join), exact int64 counts, one int/int division."""
    return textops.ngram_novelty(_docs(spark, sf_dir), n=3)


_E4_NOVELTY_ORACLE = f"""
WITH g AS (
  SELECT doc_id,
    CASE WHEN {_SQL_T} = '' OR len({_SQL_WORDS}) < 3 THEN []
         ELSE list_distinct(list_transform(range(1, len({_SQL_WORDS}) - 1),
              i -> array_to_string(list_slice({_SQL_WORDS}, i, i + 2), ' ')))
    END AS grams
  FROM documents
), x AS (
  SELECT doc_id, unnest(grams) AS gr FROM g
), dfreq AS (
  SELECT gr, count(*) AS df FROM x GROUP BY gr
), per AS (
  SELECT doc_id, count(*) AS n_grams,
         sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS n_novel
  FROM x JOIN dfreq USING (gr) GROUP BY doc_id
)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_novel AS BIGINT) AS n_novel,
       CAST(n_novel AS DOUBLE) / CAST(n_grams AS DOUBLE) AS novelty
FROM per
"""


def q_dq_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15 provenance-overlap matrix (quality.cross_source_dup_matrix):
    distinct contents shared per source pair, over the corpus plus a
    synthetic 'resold' feed (every 4th document re-ingested under a new
    source name) — the table that catches mirrored crawls and double-
    ingested feeds. The join ships 8-byte xxhash64 keys; the output is
    counts per source pair, so the oracle joins on the raw text."""
    from dataengineer_spark.operators.quality import cross_source_dup_matrix

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    resold = docs.where(F.col("doc_id") % 7 == 1).withColumn(
        "source", F.lit("resold")
    )
    corpus = docs.unionByName(resold).select("source", "text")
    return cross_source_dup_matrix(corpus)


_DQ_CROSS_SOURCE_ORACLE = """
WITH c AS (
  SELECT source, text FROM documents
  UNION ALL
  SELECT 'resold' AS source, text FROM documents WHERE doc_id % 7 = 1
), per AS (
  SELECT DISTINCT source, text FROM c
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM per a JOIN per b ON a.text = b.text AND a.source < b.source
GROUP BY source_a, source_b
"""


def q_e10_conversation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10 trajectory assembly (events.session_transcripts): gap-
    sessionized, totally-ordered per-session step transcripts — the
    conversation/replay construction step between event logs and
    SFT-style training rows. ORACLED: session boundaries (integer-µs lag
    arithmetic), the (ts, event_id) total order, and the joined
    transcript string are all replayed."""
    ev = load_table(spark, sf_dir, "events")
    return event_ops.session_transcripts(ev, gap_seconds=1800)


_E10_CONVERSATION_ORACLE = """
WITH x AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), y AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM x
)
SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_turns,
       min(CAST(floor(epoch(ts)) AS BIGINT)) AS started_s,
       string_agg(event_type, ' -> ' ORDER BY ts, event_id) AS transcript
FROM y GROUP BY user_id, session_id
"""


def q_e10_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10 recency weighting (events.decayed_activity): per-user
    activity score decayed by a 1-day half-life — EXACT dyadic weights
    (integer 2^(30-age_days) lookup, int64 sum, one final power-of-two
    division) so the score is engine- and order-independent where a
    per-row exp()/pow() would be neither."""
    ev = load_table(spark, sf_dir, "events")
    return event_ops.decayed_activity(ev, "user_id", "ts", half_life_days=1)


def q_a9_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21 sliced eval with honest uncertainty (aggregates.
    wilson_accuracy): per-label accuracy of the sign-of-first-component
    stand-in classifier with 95% Wilson score intervals — exact int64
    slice counts, fixed-shape closed form over IEEE-exact ops (z²
    folded in driver-side), rounded once at the edge."""
    emb = load_table(spark, sf_dir, "embeddings")
    scored = emb.select(
        "label",
        (
            (F.element_at("embedding", 1).cast("double") > 0)
            == (F.col("label") >= 5)
        ).cast("int").alias("correct"),
    )
    return agg_ops.wilson_accuracy(scored, ["label"], "correct")


def _wilson_oracle() -> str:
    z = 1.96
    z2 = z * z
    return f"""
WITH s AS (
  SELECT label,
    CASE WHEN (CAST(embedding[1] AS DOUBLE) > 0) = (label >= 5)
         THEN 1 ELSE 0 END AS c
  FROM embeddings
), per AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s
  FROM s GROUP BY label
)
SELECT label, n, round(s / n, 6) AS rate,
  round((s / n + {z2!r} / (2 * n)) / (1 + {z2!r} / n)
        - {z!r} * sqrt((s / n * (1 - s / n) + {z2!r} / (4 * n)) / n)
          / (1 + {z2!r} / n), 6) AS wilson_lo,
  round((s / n + {z2!r} / (2 * n)) / (1 + {z2!r} / n)
        + {z!r} * sqrt((s / n * (1 - s / n) + {z2!r} / (4 * n)) / n)
          / (1 + {z2!r} / n), 6) AS wilson_hi
FROM per
"""


def q_e9_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9/E22 blocking-design audit (joins.blocking_quality): reduction
    ratio and pair completeness of length-bucket blocking for the fuzzy
    join, on a 330-doc bounded sample seeded with tail-mutated recrawls
    (a mutation that sometimes crosses the length-bucket boundary, so
    completeness < 1 is the honest number). The guard is waived with
    allow_quadratic=True — the bound is the literal doc_id filter.
    ORACLED end to end."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 300).select(
        "doc_id", "text"
    )
    mutated = docs.where(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_RECALL_TAIL)).alias("text"),
    )
    corpus = docs.unionByName(mutated)
    return join_ops.blocking_quality(
        corpus, "doc_id", "text", F.floor(F.length("text") / 50),
        max_distance=5, prefix_len=40, allow_quadratic=True,
    )


_E9_BLOCKING_ORACLE = f"""
WITH d AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 300
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text || '{_RECALL_TAIL}' AS text
  FROM documents WHERE doc_id < 300 AND doc_id % 10 = 3
), t AS (
  SELECT doc_id, substr(text, 1, 40) AS p,
         CAST(floor(length(text) / 50) AS BIGINT) AS bk
  FROM d
), truth AS (
  SELECT a.doc_id AS ia, b.doc_id AS ib, a.bk = b.bk AS blocked
  FROM t a JOIN t b
    ON a.doc_id < b.doc_id AND levenshtein(a.p, b.p) <= 5
), ts_ AS (
  SELECT count(*) AS n_true,
         coalesce(sum(CASE WHEN blocked THEN 1 ELSE 0 END), 0) AS n_found
  FROM truth
), cs AS (
  SELECT count(*) AS n_cand
  FROM t a JOIN t b ON a.bk = b.bk AND a.doc_id < b.doc_id
), bs AS (
  SELECT count(*) AS n_rows FROM d
)
SELECT CAST(n_rows AS BIGINT) AS n_rows,
  CAST(n_rows * (n_rows - 1) / 2 AS BIGINT) AS n_pairs_total,
  CAST(n_cand AS BIGINT) AS n_cand,
  CAST(n_true AS BIGINT) AS n_true,
  CAST(n_found AS BIGINT) AS n_found,
  round(CASE WHEN n_rows * (n_rows - 1) / 2 > 0
        THEN 1 - CAST(n_cand AS DOUBLE)
                 / CAST(n_rows * (n_rows - 1) / 2 AS BIGINT) END, 6)
    AS reduction_ratio,
  CASE WHEN n_true > 0
       THEN CAST(n_found AS DOUBLE) / CAST(n_true AS DOUBLE)
  END AS completeness
FROM bs CROSS JOIN cs CROSS JOIN ts_
"""


def q_rank_fair_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E17 source-fair quality trim (ranking.fair_trim_report): keep the
    top 1/5 of EVERY source by (n_chars desc, doc_id) — the fairness-
    preserving alternative to one global score cut; integer-exact keep
    rule (rank*5 <= n), exact token accounting of kept vs dropped."""
    from dataengineer_spark.operators.ranking import fair_trim_report

    docs = load_table(spark, sf_dir, "documents")
    return fair_trim_report(
        docs, "source", [F.col("n_chars").desc(), F.col("doc_id").asc()],
        keep_num=1, keep_den=5,
    )


_RANK_FAIR_TRIM_ORACLE = r"""
WITH r AS (
  SELECT source,
    CAST(len(list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
             w -> length(w) > 0)) AS BIGINT) AS t,
    row_number() OVER (PARTITION BY source
                       ORDER BY n_chars DESC, doc_id) AS rn,
    count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source AS grp, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CASE WHEN rn * 5 <= n * 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_kept,
  CAST(sum(CASE WHEN rn * 5 <= n * 1 THEN t ELSE 0 END) AS BIGINT)
    AS kept_tokens,
  CAST(sum(CASE WHEN NOT (rn * 5 <= n * 1) THEN t ELSE 0 END) AS BIGINT)
    AS dropped_tokens
FROM r GROUP BY source ORDER BY grp
"""


def q_pipeline_curation2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2-shape composition of the round-6 curation operators, end to
    end: per-doc 3-gram novelty → keep the most-novel HALF of every
    source (integer-exact fair-trim rule, ties by (n_grams, doc_id)) →
    group-aware 5-fold assignment of the survivors → per-(fold, lang)
    doc and token accounting. Every stage is the registered operator,
    and the whole chain is ORACLED as one SQL composition — the
    demonstration that the curation pieces compose without driver-side
    glue."""
    from dataengineer_spark.operators.preparation import kfold_assign
    from dataengineer_spark.operators.ranking import fair_trim
    from dataengineer_spark.operators.textops import ngram_novelty
    from dataengineer_spark.tuning import carry_lifetime

    docs = _docs(spark, sf_dir)
    nov0 = ngram_novelty(docs, n=3)
    # carry the novelty gram-cache tie onto the derived frame (and onto
    # the returned frame below) so it survives until the action
    nov = carry_lifetime(
        nov0.select("doc_id", "n_grams", "n_novel"), nov0
    )
    scored = docs.join(nov, "doc_id")
    kept = fair_trim(
        scored,
        "source",
        [
            F.col("n_novel").desc(),
            F.col("n_grams").asc(),
            F.col("doc_id").asc(),
        ],
        keep_num=1,
        keep_den=2,
    ).select("doc_id", "lang", "source", "text")
    folded = kfold_assign(kept, "source", k=5, salt="cv")
    toks = textops.token_count(F.coalesce(F.col("text"), F.lit(""))).cast(
        "long"
    )
    return carry_lifetime(
        folded.groupBy("fold", "lang").agg(
            F.count("*").alias("n_docs"),
            F.sum(toks).alias("n_tokens"),
        ),
        nov,
    )


_PIPELINE_CURATION2_ORACLE = f"""
WITH g AS (
  SELECT doc_id,
    CASE WHEN {_SQL_T} = '' OR len({_SQL_WORDS}) < 3 THEN []
         ELSE list_distinct(list_transform(range(1, len({_SQL_WORDS}) - 1),
              i -> array_to_string(list_slice({_SQL_WORDS}, i, i + 2), ' ')))
    END AS grams
  FROM documents
), x AS (
  SELECT doc_id, unnest(grams) AS gr FROM g
), dfreq AS (
  SELECT gr, count(*) AS df FROM x GROUP BY gr
), nov AS (
  SELECT doc_id, count(*) AS n_grams,
         sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS n_novel
  FROM x JOIN dfreq USING (gr) GROUP BY doc_id
), ranked AS (
  SELECT d.doc_id, d.lang, d.source, d.text,
    row_number() OVER (PARTITION BY d.source
        ORDER BY nov.n_novel DESC, nov.n_grams ASC, d.doc_id ASC) AS rn,
    count(*) OVER (PARTITION BY d.source) AS n
  FROM documents d JOIN nov ON d.doc_id = nov.doc_id
), kept AS (
  SELECT * FROM ranked WHERE rn * 2 <= n
), folded AS (
  SELECT lang, text,
    CAST({_duck_poly("coalesce(source, '') || 'cv'")} % 5 AS INT) AS fold
  FROM kept
)
SELECT fold, lang, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(CAST(CASE WHEN length(regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g')) = 0 THEN 0
       ELSE len(regexp_split_to_array(regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g'), '\\s+'))
       END AS BIGINT)) AS BIGINT) AS n_tokens
FROM folded GROUP BY fold, lang
"""


def q_e9_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 merged-interval coverage (joins.interval_coverage): total
    UNION seconds of the 10-60 min sessions per user (overlaps counted
    once — summing raw durations double-counts every overlap the
    interval join finds). One window carries the running max end;
    islands are contiguous by construction, so union length is
    max(end)-min(start) per island. All integer arithmetic, ORACLED."""
    ev = load_table(spark, sf_dir, "events")
    start = F.col("ts").cast("long")
    iv = ev.select(
        "user_id",
        "event_id",
        start.alias("start_s"),
        (start + 600 * (F.pmod(F.col("event_id"), F.lit(6)) + 1)).alias(
            "end_s"
        ),
    )
    return join_ops.interval_coverage(
        iv, "user_id", "start_s", "end_s", "event_id"
    )


_E9_COVERAGE_ORACLE = """
WITH iv AS (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + 600 * (event_id % 6 + 1) AS e
  FROM events
), r AS (
  SELECT user_id, event_id, s, e,
    max(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM iv
), isl AS (
  SELECT user_id, s, e,
    sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY s, e, event_id
            ROWS UNBOUNDED PRECEDING) AS island
  FROM r
), per AS (
  SELECT user_id, island, count(*) AS n, max(e) - min(s) AS len
  FROM isl GROUP BY user_id, island
)
SELECT user_id, CAST(sum(n) AS BIGINT) AS n_intervals,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(len) AS BIGINT) AS covered_s
FROM per GROUP BY user_id
"""


def q_dq_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15 corpus data card (quality.corpus_datacard): the release-notes
    numbers — volume, provenance breadth, exact-dup rate — from ONE
    corpus scan (distincts are two-phase expands of the same scan),
    unpivoted to (metric, value) rows; exact counts and single int/int
    divisions throughout."""
    from dataengineer_spark.operators.quality import corpus_datacard

    docs = load_table(spark, sf_dir, "documents")
    return corpus_datacard(docs)


_DQ_DATACARD_ORACLE = r"""
WITH a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(text) AS BIGINT) AS n_text_docs,
         CAST(sum(len(list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
                  w -> length(w) > 0))) AS BIGINT) AS n_tokens,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts
  FROM documents
)
SELECT metric, value FROM (
  SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM a
  UNION ALL SELECT 'n_text_docs', CAST(n_text_docs AS DOUBLE) FROM a
  UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM a
  UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM a
  UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM a
  UNION ALL SELECT 'n_distinct_texts', CAST(n_distinct_texts AS DOUBLE) FROM a
  UNION ALL SELECT 'dup_rate',
    CASE WHEN n_text_docs > 0
         THEN 1 - CAST(n_distinct_texts AS DOUBLE) / CAST(n_text_docs AS DOUBLE)
    END FROM a
  UNION ALL SELECT 'tokens_per_doc',
    CASE WHEN n_docs > 0
         THEN CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)
    END FROM a
)
"""


def q_e2_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 asymmetric near-dup (dedup.containment_pairs): overlap
    coefficient |A∩B|/min(|A|,|B|) over word 3-gram sets, same-language
    buckets, over the corpus plus seeded QUOTE docs (the first 12 words
    of every 25th document re-ingested as their own row) — the subset
    duplication symmetric Jaccard misses: a whole-quote pair scores
    containment 1.0 but Jaccard ~0.2. ORACLED end to end."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 1000).select(
        "doc_id", "lang", "text"
    )
    words = F.split(textops.trim_ws(F.col("text")), r"\s+")
    quoted = docs.where(F.col("doc_id") % 25 == 9).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        "lang",
        F.concat_ws(" ", F.slice(words, 1, 12)).alias("text"),
    )
    corpus = docs.unionByName(quoted)
    out = dedup_ops.containment_pairs(
        corpus, "doc_id", "text", n=3, threshold=0.9,
        bucket_col=F.col("lang"),
    )
    return out.select(
        "id_a", "id_b", F.round("containment", 6).alias("containment")
    )


_E2_CONTAINMENT_ORACLE = r"""
WITH base AS (
  SELECT doc_id, lang, text FROM documents WHERE doc_id < 1000
), d AS (
  SELECT doc_id, lang, text FROM base
  UNION ALL
  SELECT doc_id + 20000 AS doc_id, lang,
         array_to_string(list_slice(regexp_split_to_array(
           regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'), 1, 12), ' ')
    AS text
  FROM base WHERE doc_id % 25 = 9
), g AS (
  SELECT doc_id, lang,
    list_distinct(list_transform(
      generate_series(1, greatest(len(regexp_split_to_array(
        regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) - 2, 1)),
      i -> array_to_string(list_slice(regexp_split_to_array(
        regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'), i, i + 2), ' ')))
      AS g
  FROM d
  WHERE length(regexp_replace(coalesce(text, ''), '^\s+|\s+$', '', 'g')) > 0
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    len(list_intersect(a.g, b.g)) * 1.0
      / least(len(a.g), len(b.g)) AS containment
  FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
  WHERE least(len(a.g), len(b.g)) > 0
)
SELECT id_a, id_b, round(containment, 6) AS containment
FROM pairs WHERE containment >= 0.9
"""


def q_dq_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15 robust outlier census (quality.mad_outlier_report): per-
    language |n_chars - median| > 1.5·MAD flags — the outlier rule the
    outliers can't drag (50% breakdown vs mean/stddev z-scores). The
    flag compares UNROUNDED interpolated percentiles; with integer
    inputs every median/MAD is dyadic-exact, so the census is engine-
    portable bit-for-bit."""
    from dataengineer_spark.operators.quality import mad_outlier_report

    docs = load_table(spark, sf_dir, "documents")
    return mad_outlier_report(docs, ["lang"], "n_chars", k=1.5)


_DQ_MAD_ORACLE = """
WITH med AS (
  SELECT lang, quantile_cont(n_chars, 0.5) AS med
  FROM documents GROUP BY lang
), d AS (
  SELECT doc.lang, m.med, abs(doc.n_chars - m.med) AS dev
  FROM documents doc JOIN med m USING (lang)
), mad AS (
  SELECT lang, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY lang
)
SELECT d.lang, CAST(count(*) AS BIGINT) AS n,
       round(max(d.med), 4) AS median_val,
       round(max(m2.mad), 4) AS mad,
       CAST(sum(CASE WHEN d.dev > 1.5 * m2.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM d JOIN mad m2 USING (lang) GROUP BY d.lang ORDER BY d.lang
"""


def _decay_oracle() -> str:
    from dataengineer_spark.operators.events import _DECAY_WEIGHTS

    weights = "[" + ", ".join(str(w) for w in _DECAY_WEIGHTS) + "]"
    return f"""
WITH mx AS (
  SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) AS m FROM events
), k AS (
  SELECT user_id,
    CAST(floor((m - CAST(floor(epoch(ts)) AS BIGINT)) / 86400) AS BIGINT)
      AS st
  FROM events CROSS JOIN mx
), w AS (
  SELECT user_id,
    CASE WHEN st <= 30 THEN ({weights})[CAST(st AS INT) + 1]
         ELSE 0 END AS wi
  FROM k
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(wi) AS DOUBLE) / 1073741824.0 AS decayed_score
FROM w GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# round-6 continuation: retrieval eval, preference pairs, changepoint,
# Benford audit, Bradley–Terry arena rating
# ---------------------------------------------------------------------------


def _graded_lsh_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared stage for the retrieval-eval queries: the LSH top-10
    ranking (same config as q_e3_lsh_topk) with its 1-based rank
    re-attached and a graded relevance from the class labels (2 = same
    label, 1 = adjacent label, 0 = anything else incl. NULL labels)."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    qs = emb.where(F.col("vec_id") < 20)
    top = sim_ops.lsh_top_k(qs, emb, dim=64, n_planes=8, k=10)
    rk = win_ops.ranked(
        top,
        ["query_id"],
        [F.col("cos_sim").desc_nulls_last(), F.col("corpus_id")],
        "rnk",
    )
    q_lbl = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("_ql")
    )
    c_lbl = emb.select(
        F.col("vec_id").alias("corpus_id"), F.col("label").alias("_cl")
    )
    both = F.col("_ql").isNotNull() & F.col("_cl").isNotNull()
    rel = (
        F.when(both & (F.col("_ql") == F.col("_cl")), 2)
        .when(both & (F.abs(F.col("_ql") - F.col("_cl")) == 1), 1)
        .otherwise(0)
    )
    return rk.join(q_lbl, "query_id").join(c_lbl, "corpus_id").select(
        "query_id", "rnk", rel.alias("rel")
    )


def q_rank_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21/E17 retrieval-quality eval (ranking.ranking_eval): per-query
    nDCG@10 / reciprocal rank / hit count of the LSH top-10 ranking
    (q_e3_lsh_topk's config) against a label-graded relevance.  The
    position discounts are driver-computed plan literals (no log parity
    bets); gains 2^rel-1 are exact small ints; one shuffle on the query
    key.  Fully oracled — bucket join, rank cut, grading, and both DCG
    sums replayed from the same literals."""
    from dataengineer_spark.operators import ranking

    graded = _graded_lsh_ranking(spark, sf_dir)
    return ranking.ranking_eval(graded, "query_id", "rnk", "rel", k=10).orderBy(
        "query"
    )


def _rank_ndcg_oracle() -> str:
    from dataengineer_spark.operators.ranking import ndcg_discounts

    dim, n_planes, k = 64, 8, 10
    disc = "[" + ", ".join(repr(x) for x in ndcg_discounts(k)) + "]"
    return f"""
WITH {_lsh_bk_prefix(dim, n_planes, label=True)}, scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
    {_lsh_cos_sql(dim)} AS cos_sim, q.lbl AS ql, c.lbl AS cl
  FROM bk q JOIN bk c ON q.bucket = c.bucket
  WHERE q.vec_id < 20
), rk AS (
  SELECT query_id, ql, cl, row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC NULLS LAST, corpus_id
  ) AS rnk
  FROM scored
), g AS (
  SELECT query_id AS query, CAST(rnk AS INT) AS rk,
    CASE WHEN ql IS NOT NULL AND cl IS NOT NULL AND ql = cl THEN 2
         WHEN ql IS NOT NULL AND cl IS NOT NULL AND abs(ql - cl) = 1 THEN 1
         ELSE 0 END AS rel
  FROM rk WHERE rnk <= {k}
), lit AS (
  SELECT CAST({disc} AS DOUBLE[]) AS disc
), t AS (
  SELECT query, rk, rel,
    CASE rel WHEN 2 THEN 3.0 WHEN 1 THEN 1.0 ELSE 0.0 END AS gain,
    row_number() OVER (PARTITION BY query ORDER BY rel DESC, rk ASC) AS irk
  FROM g
)
SELECT query,
  CAST(count(CASE WHEN rel > 0 THEN 1 END) AS BIGINT) AS hits,
  round(sum(gain * disc[rk]), 6) AS dcg,
  round(sum(gain * disc[irk]), 6) AS idcg,
  round(CASE WHEN sum(gain * disc[irk]) > 0
        THEN sum(gain * disc[rk]) / sum(gain * disc[irk]) END, 6) AS ndcg,
  round(1.0 / min(CASE WHEN rel > 0 THEN rk END), 6) AS rr
FROM t CROSS JOIN lit
GROUP BY query ORDER BY query
"""


def q_rank_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21/E17 index-config comparison (ranking.rbo_overlap): truncated
    rank-biased overlap (p=0.9, k=10) between the 8-plane and 6-plane
    LSH rankings of the same 20 probes — the top-weighted agreement
    measure for an ANN parameter change.  Per-item RBO weights are
    driver-computed plan literals; the joins are rank-capped
    candidate-set-sized.  Fully oracled (both plane sets replayed)."""
    from dataengineer_spark.operators import ranking
    from dataengineer_spark.operators.windows import top_k_per_group
    from dataengineer_spark.tuning import tie_lifetime, transient_persist

    # ONE signature pass for both plane sets (round-11): the 6-plane
    # hyperplane family is a PREFIX of the 8-plane one (_hyperplanes
    # draws sequentially from the same seeded RNG), so the 6-plane
    # bucket is exactly the low 6 bits of the 8-plane signature —
    # compute the 8-bit signature + norms once, cache the signed corpus,
    # and derive both rankings from it (the uncached form ran the
    # interpreted signature fold and the corpus scan twice).  Buckets,
    # candidate sets, and cos_sim are bit-identical to two independent
    # lsh_top_k calls — the unchanged oracle replays both plane sets.
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    planes8 = sim_ops._hyperplanes(64, 8, seed=42)
    c = transient_persist(
        emb.select(
            F.col("vec_id").alias("corpus_id"),
            F.col("embedding").cast("array<double>").alias("_cv"),
        ).select(
            "*",
            sim_ops.lsh_bucket("_cv", planes8).alias("_bk8"),
            sim_ops.l2_norm("_cv").alias("_cn"),
        )
    )
    q = c.where(F.col("corpus_id") < 20).select(
        F.col("corpus_id").alias("query_id"),
        F.col("_cv").alias("_qv"),
        "_bk8",
        F.col("_cn").alias("_qn"),
    )
    denom = F.col("_qn") * F.col("_cn")
    cos = F.when(denom > 0, sim_ops.dot("_qv", "_cv") / denom)
    order = [F.col("cos_sim").desc_nulls_last(), F.col("corpus_id")]

    def ranked_for(bits: int):
        mask = (1 << bits) - 1
        qb = q.select(
            "query_id", "_qv", "_qn",
            F.col("_bk8").bitwiseAND(F.lit(mask)).alias("_bk"),
        )
        cb = c.select(
            "corpus_id", "_cv", "_cn",
            F.col("_bk8").bitwiseAND(F.lit(mask)).alias("_bk"),
        )
        scored = qb.join(cb, on="_bk").withColumn("cos_sim", cos).select(
            "query_id", "corpus_id", "cos_sim"
        )
        return win_ops.ranked(
            top_k_per_group(scored, ["query_id"], order, 10),
            ["query_id"], order, "rnk",
        )

    out = ranking.rbo_overlap(
        ranked_for(8), ranked_for(6), "query_id", "corpus_id", "rnk",
        k=10, p=0.9,
    ).orderBy("query")
    return tie_lifetime(out, c)


def _rank_rbo_oracle() -> str:
    from dataengineer_spark.operators.ranking import rbo_weights

    dim, k, p = 64, 10, 0.9
    wts = "[" + ", ".join(repr(x) for x in rbo_weights(k, p)) + "]"
    one_minus_p = repr(1.0 - p)

    def ranked_cte(bk: str) -> str:
        return f"""(
  SELECT query_id, corpus_id, rn FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY {_lsh_cos_sql(dim)} DESC NULLS LAST, c.vec_id
      ) AS rn
    FROM {bk} q JOIN {bk} c ON q.bucket = c.bucket
    WHERE q.vec_id < 20
  ) WHERE rn <= {k}
)"""

    return f"""
WITH {_lsh_bk_prefix(dim, 8, label=False)},
{_lsh_bk_prefix(dim, 6, label=False, tag='b')},
lit AS (
  SELECT CAST({wts} AS DOUBLE[]) AS wts
), ra AS {ranked_cte('bk')}, rb AS {ranked_cte('bkb')},
shared AS (
  SELECT ra.query_id AS query, wts[greatest(ra.rn, rb.rn)] AS w
  FROM ra JOIN rb
    ON ra.query_id = rb.query_id AND ra.corpus_id = rb.corpus_id
  CROSS JOIN lit
), per_q AS (
  SELECT query, CAST(count(*) AS BIGINT) AS n_overlap, sum(w) AS ws
  FROM shared GROUP BY query
), base AS (
  SELECT query_id AS query FROM ra
  UNION
  SELECT query_id AS query FROM rb
)
SELECT base.query,
  CAST(coalesce(per_q.n_overlap, 0) AS BIGINT) AS n_overlap,
  round(coalesce(per_q.ws, 0.0) * {one_minus_p}, 6) AS rbo
FROM base LEFT JOIN per_q ON base.query = per_q.query
ORDER BY base.query
"""


def q_prep_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16/E21 preference-pair construction for reward-model / DPO
    training (preparation.preference_pairs): per user, rank events by
    value and mirror-pair the i-th best with the i-th worst, dropping
    gaps under 0.5 — pointwise scores become (chosen, rejected) rows.
    One window shuffle + one (group, rank) self-equi-join.  Fully
    oracled (ranking, mirror rule, and margin cut replayed)."""
    from dataengineer_spark.operators import preparation

    ev = load_table(spark, sf_dir, "events")
    return preparation.preference_pairs(
        ev, "user_id", "event_id", "value", margin=0.5
    ).orderBy("grp", "pair_rank")


_PREP_PREFERENCE_PAIRS_ORACLE = """
WITH base AS (
  SELECT user_id AS grp, event_id AS _id, CAST(value AS DOUBLE) AS s
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
), r AS (
  SELECT grp, _id, s,
    row_number() OVER (PARTITION BY grp ORDER BY s DESC, _id ASC) AS rn,
    count(*) OVER (PARTITION BY grp) AS n
  FROM base
)
SELECT c.grp, CAST(c.rn AS INT) AS pair_rank,
  c._id AS chosen_id, j._id AS rejected_id,
  c.s AS chosen_score, j.s AS rejected_score,
  round(c.s - j.s, 6) AS gap
FROM r c JOIN r j ON j.grp = c.grp AND j.rn = c.n + 1 - c.rn
WHERE c.rn * 2 <= c.n AND c.s - j.s >= 0.5
ORDER BY c.grp, pair_rank
"""


def q_e10_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10 change-point location (events.cusum_changepoint): per event
    type, the timestamp where the CUSUM of value deviations from the
    type's mean peaks in magnitude — Page's level-shift locator.
    Integer-exact: micro-unit BIGINT values, the mean never divided out
    (scaled form n*cum - i*S in DECIMAL(38,0)), so the argmax is exact
    and the single double division happens per OUTPUT row.  One shuffle
    on the key.  Fully oracled."""
    from dataengineer_spark.operators import events as ev_ops

    ev = load_table(spark, sf_dir, "events")
    return ev_ops.cusum_changepoint(
        ev, "event_type", "ts", "value", "event_id"
    ).orderBy("key")


_E10_CUSUM_ORACLE = """
WITH base AS (
  SELECT event_type AS key, ts, event_id,
    CAST(round(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), s AS (
  SELECT key, ts, event_id,
    count(*) OVER (PARTITION BY key) AS n,
    sum(CAST(v AS DECIMAL(18,0))) OVER (PARTITION BY key) AS tot,
    sum(CAST(v AS DECIMAL(18,0))) OVER (PARTITION BY key
      ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    row_number() OVER (PARTITION BY key ORDER BY ts, event_id) AS i
  FROM base
), sc AS (
  SELECT key, ts, event_id, n,
    CAST(n AS DECIMAL(10,0)) * CAST(cum AS DECIMAL(28,0))
      - CAST(i AS DECIMAL(10,0)) * CAST(tot AS DECIMAL(28,0)) AS scaled
  FROM s
), top AS (
  SELECT *, row_number() OVER (
    PARTITION BY key ORDER BY abs(scaled) DESC, ts ASC, event_id ASC
  ) AS rn
  FROM sc
)
SELECT key, ts AS change_ts, event_id AS change_id,
  CAST(n AS BIGINT) AS n,
  round(CAST(scaled AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0), 6)
    AS cusum
FROM top WHERE rn = 1 ORDER BY key
"""


def q_dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15 first-digit distribution audit (quality.benford_audit):
    observed vs Benford-expected first-significant-digit shares of
    order totals, with per-digit chi-square terms — the standard screen
    for fabricated/truncated monetary data.  Digit extraction is a
    plan-literal power-of-ten CASE ladder (no log10, no double→string
    parity bets); one source scan.  Fully oracled."""
    from dataengineer_spark.operators import quality

    orders = load_table(spark, sf_dir, "orders")
    return quality.benford_audit(orders, "o_totalprice")


def _dq_benford_oracle() -> str:
    import math

    from dataengineer_spark.operators.quality import _BENFORD_POWS

    ladder = "CASE " + " ".join(
        f"WHEN x >= {p!r} THEN {p!r}" for p in _BENFORD_POWS
    ) + " END"
    exp = "[" + ", ".join(
        repr(math.log10(1.0 + 1.0 / d)) for d in range(1, 10)
    ) + "]"
    return f"""
WITH src AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
), raw AS (
  SELECT x,
    CASE WHEN x IS NOT NULL AND x >= 1e-06 AND x < 1e+15
         THEN CAST(floor(x / ({ladder})) AS INT) END AS rd
  FROM src
), tagged AS (
  SELECT CASE WHEN rd BETWEEN 1 AND 9 THEN rd END AS digit,
    CASE WHEN rd BETWEEN 1 AND 9 THEN 0 ELSE 1 END AS skip
  FROM raw
), counts AS (
  SELECT digit, CAST(sum(1 - skip) AS BIGINT) AS n,
         CAST(sum(skip) AS BIGINT) AS ns
  FROM tagged GROUP BY digit
), digits AS (
  SELECT CAST(unnest(range(1, 10)) AS INT) AS digit
), filled AS (
  SELECT d.digit, coalesce(c.n, 0) AS n
  FROM digits d LEFT JOIN counts c ON d.digit = c.digit
), tot AS (
  SELECT CAST(sum(n) AS DOUBLE) AS td FROM filled
), sk AS (
  SELECT CAST(coalesce(sum(ns), 0) AS BIGINT) AS n_skipped
  FROM counts WHERE digit IS NULL
), lit AS (
  SELECT CAST({exp} AS DOUBLE[]) AS ex
)
SELECT f.digit, CAST(f.n AS BIGINT) AS n, sk.n_skipped,
  round(CASE WHEN td > 0 THEN f.n / td END, 6) AS observed_p,
  round(ex[f.digit], 6) AS expected_p,
  round(CASE WHEN ex[f.digit] * td > 0
        THEN (f.n - ex[f.digit] * td) * (f.n - ex[f.digit] * td)
             / (ex[f.digit] * td) END, 6) AS chi2_term
FROM filled f CROSS JOIN tot CROSS JOIN sk CROSS JOIN lit
ORDER BY f.digit
"""


def q_a10_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21 arena-style leaderboard (aggregates.bradley_terry): each
    user's consecutive event pairs become battles between event types
    (higher value wins, ties carry no signal), then two fixed MM
    iterations of the Bradley–Terry model rate the types.  The battle
    log reduces to a K²-row pair matrix in one aggregate; every
    iteration runs broadcast-sized.  Fully oracled (battle derivation
    + both unrolled MM iterations replayed)."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.col("value").cast("double").alias("va"),
        F.lead("event_type").over(w).alias("b"),
        F.lead(F.col("value").cast("double")).over(w).alias("vb"),
    ).where(F.col("b").isNotNull())
    battles = seq.select(
        "a",
        "b",
        F.when(F.col("va") > F.col("vb"), F.col("a"))
        .when(F.col("vb") > F.col("va"), F.col("b"))
        .alias("winner"),
    )
    return agg_ops.bradley_terry(battles, "a", "b", "winner", iters=2)


def _bt_iteration_sql(prev: str, cur: str) -> str:
    """One unrolled Bradley–Terry MM iteration (the SQL mirror of the
    DataFrame loop body in aggregates.bradley_terry)."""
    return f"""s{cur} AS (
  SELECT s.model, s.wins,
    CASE WHEN l.pi + r.pi > 0 THEN s.n / (l.pi + r.pi) END AS d
  FROM sides s
  JOIN it{prev} l ON s.model = l.model
  JOIN it{prev} r ON s.opp = r.model
), it{cur} AS (
  SELECT model,
    coalesce(CASE WHEN sum(d) > 0 THEN sum(wins) / sum(d) END, 0.0) AS pi
  FROM s{cur} GROUP BY model
)"""


def _a10_bradley_terry_oracle() -> str:
    return f"""
WITH ev AS (
  SELECT user_id, ts, event_id, event_type, CAST(value AS DOUBLE) AS v
  FROM events
), seq AS (
  SELECT event_type AS a, v AS va,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b,
    lead(v) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vb
  FROM ev
), battles AS (
  SELECT a, b,
    CASE WHEN va > vb THEN a WHEN vb > va THEN b END AS winner
  FROM seq WHERE b IS NOT NULL
), valid AS (
  SELECT least(a, b) AS lo, greatest(a, b) AS hi,
    CASE WHEN winner = least(a, b) THEN 1 ELSE 0 END AS lw
  FROM battles
  WHERE a IS NOT NULL AND b IS NOT NULL AND a <> b
    AND (winner = a OR winner = b)
), pairs AS (
  SELECT lo, hi, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(lw) AS BIGINT) AS lo_wins
  FROM valid GROUP BY lo, hi
), sides AS (
  SELECT lo AS model, hi AS opp, n, lo_wins AS wins FROM pairs
  UNION ALL
  SELECT hi AS model, lo AS opp, n, n - lo_wins AS wins FROM pairs
), it0 AS (
  SELECT DISTINCT model, 1.0 AS pi FROM sides
), {_bt_iteration_sql('0', '1')}, {_bt_iteration_sql('1', '2')},
stats AS (
  SELECT model, CAST(sum(n) AS BIGINT) AS n_battles,
         CAST(sum(wins) AS BIGINT) AS wins
  FROM sides GROUP BY model
), norm AS (
  SELECT sum(pi) AS tot FROM it2
)
SELECT st.model, st.n_battles, st.wins,
  round(it2.pi * 100.0 / norm.tot, 6) AS rating
FROM stats st JOIN it2 ON st.model = it2.model CROSS JOIN norm
ORDER BY rating DESC, st.model ASC
"""


def q_e6_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 trailing EWMA (windows.trailing_ewma): per event type, the
    exponentially-weighted average of the last 8 values (α=0.8) under
    the total (ts, id) order — the smoothing pass behind anomaly
    baselines.  The α powers and their prefix sums (for ragged frames
    at each series head) are plan literals; the fold is order-pinned
    oldest→newest.  One window shuffle.  Fully oracled (DuckDB
    list-over-frame + list_filter mirrors collect_list's NULL drop)."""
    ev = load_table(spark, sf_dir, "events")
    out = win_ops.trailing_ewma(
        ev,
        ["event_type"],
        [F.col("ts").asc(), F.col("event_id").asc()],
        "value",
        window_rows=8,
        alpha=0.8,
    )
    return out.select("event_id", "event_type", "ewma").orderBy("event_id")


def _e6_ewma_oracle() -> str:
    window_rows, alpha = 8, 0.8
    pows = [alpha ** a for a in range(window_rows)]
    prefix, acc = [], 0.0
    for p in pows:
        acc += p
        prefix.append(acc)
    w = "[" + ", ".join(repr(x) for x in pows) + "]"
    d = "[" + ", ".join(repr(x) for x in prefix) + "]"
    return f"""
WITH base AS (
  SELECT event_id, event_type, ts, CAST(value AS DOUBLE) AS v FROM events
), fr AS (
  SELECT event_id, event_type,
    list_filter(list(v) OVER (
      PARTITION BY event_type ORDER BY ts, event_id
      ROWS BETWEEN {window_rows - 1} PRECEDING AND CURRENT ROW
    ), x -> x IS NOT NULL) AS l
  FROM base
), lit AS (
  SELECT CAST({w} AS DOUBLE[]) AS w, CAST({d} AS DOUBLE[]) AS d
)
SELECT event_id, event_type,
  CASE WHEN len(l) > 0 THEN round(
    list_reduce(list_transform(generate_series(1, len(l)),
      i -> l[i] * w[len(l) - i + 1]), (a, b) -> a + b) / d[len(l)], 6)
  END AS ewma
FROM fr CROSS JOIN lit ORDER BY event_id
"""


def q_prep_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16 curriculum phase report (preparation.curriculum_report):
    per source, documents split easy→hard into 4 NTILE phases by length
    (difficulty proxy), with each phase's size and difficulty span —
    the schedule-review table before a phased sampler ships.  One
    per-group window shuffle (never a global sort).  Fully oracled
    (SQL-standard NTILE on the same total order)."""
    from dataengineer_spark.operators import preparation

    docs = load_table(spark, sf_dir, "documents")
    return preparation.curriculum_report(
        docs, "source", "doc_id", "n_chars", phases=4
    )


_PREP_CURRICULUM_ORACLE = """
WITH base AS (
  SELECT source AS grp, doc_id AS id, CAST(n_chars AS DOUBLE) AS d
  FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL
), t AS (
  SELECT grp, d,
    ntile(4) OVER (PARTITION BY grp ORDER BY d ASC, id ASC) AS phase
  FROM base
)
SELECT grp, CAST(phase AS INT) AS phase,
  CAST(count(*) AS BIGINT) AS n_docs,
  min(d) AS d_min, max(d) AS d_max
FROM t GROUP BY grp, phase ORDER BY grp, phase
"""


def q_dq_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15+E21 label-noise audit (confident-learning-style, public
    method): every labeled vector is re-predicted by its k=5 nearest
    labeled neighbors (self excluded) and the (given, predicted) joint
    counts are reported — off-diagonal mass marks suspected mislabels
    per class pair.  Same shared LSH-bucketed k-NN plan as
    q_e3_knn_classify, probe set = the whole corpus.  Fully oracled
    via the shared _knn_pick_prefix."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    pred = sim_ops.knn_classify(
        emb, emb, dim=64, n_planes=8, k=5, exclude_self=True
    )
    given = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("given_label")
    )
    return (
        pred.join(given, "query_id")
        .where(F.col("given_label").isNotNull())
        .groupBy("given_label", "predicted_label")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy("given_label", "predicted_label")
    )


def _dq_label_noise_oracle() -> str:
    dim, n_planes, k = 64, 8, 5
    return f"""
WITH {_knn_pick_prefix(dim, n_planes, k, 'TRUE')}
SELECT g.lbl AS given_label, p.predicted_label,
  CAST(count(*) AS BIGINT) AS n
FROM pick p JOIN e g ON p.query_id = g.vec_id
WHERE g.lbl IS NOT NULL
GROUP BY g.lbl, p.predicted_label
ORDER BY given_label, predicted_label
"""


def q_a11_paired_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21 paired model/variant comparison (aggregates.paired_t_test):
    per user, mean click value vs mean view value; users with both
    become pairs and the paired t-statistic says whether the two event
    kinds differ in value — the fold-paired test pattern for comparing
    two models on the same eval units.  One pivot aggregate + one
    single-row aggregate.  Fully oracled (same one-pass moment
    formulas; p-value out of scope by design)."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.where(F.col("event_type").isin("click", "view"))
        .groupBy("user_id")
        .pivot("event_type", ["click", "view"])
        .agg(F.avg(F.col("value").cast("double")))
    )
    return agg_ops.paired_t_test(per_user, "click", "view")


_A11_PAIRED_T_ORACLE = """
WITH per_user AS (
  SELECT user_id,
    avg(CASE WHEN event_type = 'click' THEN v END) AS a,
    avg(CASE WHEN event_type = 'view' THEN v END) AS b
  FROM (
    SELECT user_id, event_type, CAST(value AS DOUBLE) AS v FROM events
    WHERE event_type IN ('click', 'view')
  ) GROUP BY user_id
), d AS (
  SELECT a - b AS d FROM per_user WHERE a IS NOT NULL AND b IS NOT NULL
), m AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(d) AS s, sum(d * d) AS s2
  FROM d
)
SELECT n,
  round(CASE WHEN n > 0 THEN s / n END, 4) AS mean_diff,
  round(CASE WHEN n >= 2
        THEN sqrt(greatest((s2 - s * s / n) / (n - 1.0), 0.0)) END, 4)
    AS sd_diff,
  round(CASE WHEN n >= 2
          AND sqrt(greatest((s2 - s * s / n) / (n - 1.0), 0.0)) > 0
        THEN (s / n) / (sqrt(greatest((s2 - s * s / n) / (n - 1.0), 0.0))
          / sqrt(CAST(n AS DOUBLE)))
        END, 4) AS t_stat,
  CASE WHEN n >= 2 THEN CAST(n - 1 AS BIGINT) END AS dof
FROM m
"""


def q_e3_pca_power1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-iteration twin of q_e3_pca_power (same operator, iters=1)
    — isolates the fixed cost (mu aggregate + plan compile) from the
    per-iteration cost in the bench: wall(2-iter) − wall(1-iter) = one
    power iteration.  Fully oracled via the shared builder."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    return sim_ops.pca_power_top(emb, "embedding", dim=64, iters=1)


def q_e3_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 distributed PCA, top component (sim_ops.pca_power_top): two
    power iterations of v ← normalize((X−μ)ᵀ(X−μ)v) without ever
    materializing the 64×64 covariance — per iteration one corpus
    aggregate (projection + weighted column sums) and one 1-row
    broadcast; the whitening/spectral-dedup front end.  Every cross-row
    sum is decimal-exact (the kmeans recipe) and every per-row fold is
    dimension-order-pinned, so the oracle replays both iterations
    bit-for-bit."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    return sim_ops.pca_power_top(emb, "embedding", dim=64, iters=2)


def _pca_power_oracle(iters: int = 2) -> str:
    import math

    dim = 64
    v0 = repr(1.0 / math.sqrt(dim))
    parts = [f"""x0 AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE embedding IS NOT NULL
), x AS (
  SELECT v FROM x0
  WHERE len(v) >= {dim}
    AND len(list_filter(v[1:{dim}], e -> e IS NULL)) = 0
), g AS (
  SELECT CAST(unnest(generate_series(1, {dim})) AS INT) AS j
), mu AS (
  SELECT g.j,
    CAST(sum(CAST(round(x.v[g.j], 12) AS DECIMAL(28,12))) AS DOUBLE) AS sj,
    count(*) AS n
  FROM x CROSS JOIN g GROUP BY g.j
), m AS (
  SELECT list(sj / n ORDER BY j) AS m, max(n) AS n FROM mu
), w0 AS (
  SELECT list_transform(generate_series(1, {dim}), j -> {v0}) AS w
)"""]
    for t in range(1, iters + 1):
        parts.append(f"""s{t} AS (
  SELECT x.v AS v,
    list_reduce(list_transform(generate_series(1, {dim}),
      j -> (x.v[j] - m.m[j]) * w{t - 1}.w[j]), (a, b) -> a + b) AS s
  FROM x CROSS JOIN m CROSS JOIN w{t - 1}
), c{t} AS (
  SELECT g.j,
    CAST(sum(CAST(round(s{t}.s * (s{t}.v[g.j] - m.m[g.j]), 9)
      AS DECIMAL(28,9))) AS DOUBLE) AS c
  FROM s{t} CROSS JOIN g CROSS JOIN m GROUP BY g.j
), ca{t} AS (
  SELECT list(c ORDER BY j) AS c FROM c{t}
), n{t} AS (
  SELECT sqrt(list_reduce(list_transform(c, e -> e * e),
    (a, b) -> a + b)) AS nrm, c
  FROM ca{t}
), w{t} AS (
  SELECT CASE WHEN nrm > 0 THEN list_transform(c, e -> e / nrm)
         ELSE list_transform(c, e -> CAST(NULL AS DOUBLE)) END AS w,
         nrm
  FROM n{t}
)""")
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT g.j AS dim, round(w{iters}.w[g.j], 6) AS loading,
  round(w{iters}.nrm / (m.n - 1), 6) AS eigenvalue
FROM w{iters} CROSS JOIN m CROSS JOIN g ORDER BY dim
"""


def q_e9_proration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9/E10 calendar-month proration (joins.interval_proration): each
    order's total is split across the months of its service span
    (orderdate + orderkey%45 days — the deterministic derived-interval
    pattern of q_e9_interval_coverage) weighted by exact overlap days —
    the revenue-recognition allocation.  Map-only month explode, ONE
    month-keyed aggregate; day weights are integer-exact and the
    roll-up is decimal-summed.  Fully oracled."""
    orders = load_table(spark, sf_dir, "orders")
    iv = orders.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("start_d"),
        F.date_add(
            F.col("o_orderdate").cast("date"),
            F.pmod(F.col("o_orderkey"), F.lit(45)).cast("int"),
        ).alias("end_d"),
        F.col("o_totalprice").alias("price"),
    )
    return join_ops.interval_proration(
        iv, "start_d", "end_d", "price", "o_orderkey"
    )


_E9_PRORATION_ORACLE = """
WITH iv AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS s,
    CAST(o_orderdate AS DATE) + CAST(o_orderkey % 45 AS INT) AS e,
    CAST(round(CAST(o_totalprice AS DOUBLE) * 10000) AS BIGINT) AS vi
  FROM orders
), base AS (
  SELECT o_orderkey, s, e, vi, date_diff('day', s, e) + 1 AS total_days
  FROM iv WHERE s IS NOT NULL AND e IS NOT NULL AND e >= s
    AND vi IS NOT NULL
), m AS (
  SELECT base.*, CAST(unnest(generate_series(
    CAST(date_trunc('month', s) AS TIMESTAMP),
    CAST(date_trunc('month', e) AS TIMESTAMP),
    INTERVAL 1 MONTH)) AS DATE) AS mo
  FROM base
), a AS (
  SELECT strftime(mo, '%Y-%m') AS month,
    CAST(floor(CAST(vi * (date_diff('day', greatest(s, mo),
      least(e, last_day(mo))) + 1) AS DOUBLE)
      / CAST(total_days AS DOUBLE) + 0.5) AS BIGINT) AS alloc_i
  FROM m
)
SELECT month, CAST(count(*) AS BIGINT) AS n_lines,
  CAST(sum(alloc_i) AS DOUBLE) / 10000.0 AS allocated
FROM a GROUP BY month ORDER BY month
"""


def q_rank_calibrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E17 cross-source score calibration (ranking.score_calibration):
    each document's length score mapped to its cume_dist percentile
    WITHIN its source — the normalization that makes one global quality
    cut fair across sources with different score scales (the companion
    to q_rank_fair_trim).  Ties share a value by construction (equal
    scores must calibrate equally).  One window shuffle.  Fully
    oracled (SQL-standard cume_dist)."""
    from dataengineer_spark.operators import ranking

    docs = load_table(spark, sf_dir, "documents")
    return ranking.score_calibration(
        docs, "source", "doc_id", "n_chars"
    ).orderBy("grp", "id")


_RANK_CALIBRATE_ORACLE = """
WITH base AS (
  SELECT source AS grp, doc_id AS id, CAST(n_chars AS DOUBLE) AS score
  FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL
)
SELECT grp, id, score,
  round(cume_dist() OVER (PARTITION BY grp ORDER BY score ASC), 6)
    AS calibrated
FROM base ORDER BY grp, id
"""


def q_dq_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15 metadata-trust audit: declared ``lang`` column vs the
    heuristic language-ID prediction (textops.language_id), as
    (declared, detected) joint counts with a mismatch flag — the check
    that catches a mislabeled crawl before the lang column drives
    mixture decisions.  One langid scan + one label²-bounded aggregate.
    Fully oracled (wraps the q_e4_langid oracle)."""
    docs = _docs(spark, sf_dir)
    pred = docs.select(
        "lang", textops.language_id(F.col("text")).alias("detected")
    )
    return (
        pred.groupBy("lang", "detected")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            "lang",
            "detected",
            "n",
            (~F.col("lang").eqNullSafe(F.col("detected"))).alias(
                "is_mismatch"
            ),
        )
        .orderBy("lang", "detected")
    )


def _dq_lang_mismatch_oracle() -> str:
    return f"""
WITH pred AS ({_langid_oracle()})
SELECT lang, detected, CAST(count(*) AS BIGINT) AS n,
  (lang IS DISTINCT FROM detected) AS is_mismatch
FROM pred GROUP BY lang, detected
ORDER BY lang, detected
"""


def q_prep_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16 churn-label construction (preparation.future_event_labels):
    per event, did the user return within 7 days? — as a three-value
    label with honest right-censoring: an OBSERVED return within the
    horizon is 'returned' even at the data boundary (censoring a
    knowable label would discard boundary positives); only no-return
    events whose horizon passes the observed end get 'censored'
    instead of a silently-wrong 'churned' (string, not nullable
    boolean — pandas NULL-bool rendering is not engine-comparable).
    One
    lead() window on the user key + a broadcast 1-row corpus max.
    Fully oracled (integer epoch-second comparisons)."""
    from dataengineer_spark.operators import preparation

    ev = load_table(spark, sf_dir, "events")
    return preparation.future_event_labels(
        ev, "user_id", "ts", "event_id", horizon_seconds=7 * 86400
    ).orderBy("id")


_PREP_CHURN_LABELS_ORACLE = """
WITH base AS (
  SELECT user_id AS key, event_id AS id, ts,
    CAST(floor(epoch(ts)) AS BIGINT) AS es
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), nxt AS (
  SELECT *, lead(es) OVER (PARTITION BY key ORDER BY es, id) AS next_es
  FROM base
), e AS (
  SELECT max(es) AS end_es FROM base
)
SELECT key, id, ts,
  CASE WHEN coalesce(next_es - es <= 604800, FALSE) THEN 'returned'
       WHEN es + 604800 > end_es THEN 'censored'
       ELSE 'churned' END AS label
FROM nxt CROSS JOIN e ORDER BY id
"""


def q_dq_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15 corpus concentration audit (quality.concentration_report):
    Gini coefficient + top-source share of the whitespace-token budget
    across sources — the inequality number a data card reports (2 of
    200 domains carrying 80% of tokens changes dedup leverage and
    contamination blast radius).  One corpus aggregate + a window over
    the source-cardinality frame; rank-weighted sum DECIMAL-exact.
    Token definition = the shared _ws_token_count.  Fully oracled."""
    from dataengineer_spark.operators import quality
    from dataengineer_spark.operators.preparation import _ws_token_count

    docs = load_table(spark, sf_dir, "documents")
    return quality.concentration_report(
        docs, "source", _ws_token_count("text")
    )


_DQ_GINI_ORACLE = r"""
WITH w AS (
  SELECT source AS grp,
    CAST(sum(coalesce(len(list_filter(
      regexp_split_to_array(coalesce(text, ''), '\s+'),
      t -> length(t) > 0)), 0)) AS BIGINT) AS w
  FROM documents WHERE source IS NOT NULL GROUP BY source
), r AS (
  SELECT w,
    CAST(row_number() OVER (ORDER BY w ASC, grp ASC) AS DECIMAL(10,0)) AS i
  FROM w
), a AS (
  SELECT CAST(count(*) AS BIGINT) AS n_groups,
    CAST(sum(w) AS DECIMAL(28,0)) AS tot,
    sum(i * CAST(w AS DECIMAL(28,0))) AS iw,
    CAST(max(w) AS DECIMAL(28,0)) AS top
  FROM r
)
SELECT n_groups, CAST(tot AS BIGINT) AS total_weight,
  round(CASE WHEN n_groups > 0 AND CAST(tot AS DOUBLE) > 0 THEN
    2.0 * CAST(iw AS DOUBLE)
      / (CAST(n_groups AS DOUBLE) * CAST(tot AS DOUBLE))
    - (CAST(n_groups AS DOUBLE) + 1.0) / CAST(n_groups AS DOUBLE)
  END, 6) AS gini,
  round(CASE WHEN CAST(tot AS DOUBLE) > 0
    THEN CAST(top AS DOUBLE) / CAST(tot AS DOUBLE) END, 6) AS top_share
FROM a
"""


def q_a12_sliced_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21 per-slice exact ROC AUC (agg_ops.roc_auc_by): the rank-sum
    AUC partitioned by a slice key (label%3 cohorts; score = first
    embedding component rounded to 6 to cap the distinct-score axis,
    truth = second component positive) — a global AUC hides a slice
    where the model inverts.  Integral pair counts per slice; one-class
    slices report NULL, never a fake 0.5.  Fully oracled."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    sliced = emb.select(
        # % (truncation), not pmod: DuckDB's % truncates, and label is a
        # DATA attribute (could be negative), unlike the surrogate keys
        # pmod is used with elsewhere
        (F.col("label") % 3).alias("slice"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias(
            "score"
        ),
        (F.element_at("embedding", 2).cast("double") > 0).alias("y"),
    )
    return agg_ops.roc_auc_by(sliced, ["slice"], "score", F.col("y"))


_A12_SLICED_AUC_ORACLE = """
WITH s AS (
  SELECT label % 3 AS slice,
    round(CAST(embedding[1] AS DOUBLE), 6) AS score,
    CAST(embedding[2] AS DOUBLE) > 0 AS y
  FROM embeddings
), f AS (
  SELECT * FROM s WHERE y IS NOT NULL AND score IS NOT NULL
), ps AS (
  SELECT slice, score,
    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
  FROM f GROUP BY slice, score
), pr AS (
  SELECT slice,
    2 * np * coalesce(sum(nn) OVER (
      PARTITION BY slice ORDER BY score ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      + np * nn AS num2,
    np, nn
  FROM ps
)
SELECT slice,
  round(CASE WHEN sum(np) > 0 AND sum(nn) > 0
    THEN CAST(sum(num2) AS DOUBLE) / (2.0 * sum(np) * sum(nn))
  END, 6) AS auc,
  CAST(sum(np) AS BIGINT) AS n_pos,
  CAST(sum(nn) AS BIGINT) AS n_neg
FROM pr GROUP BY slice ORDER BY slice
"""


def q_e9_sorted_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9/E22 sorted-neighborhood blocking (join_ops.
    sorted_neighborhood_pairs): each customer paired with its 3 nearest
    name-order neighbors within its nation — the ER candidate generator
    for keys where near-misses sort adjacently but never collide on an
    equality bucket.  Two-level scale form: hash-partition by the
    coarse key (nation), sort + rank-offset equi-join WITHIN blocks —
    never a global one-task sort.  Fully oracled."""
    cust = load_table(spark, sf_dir, "customer")
    return join_ops.sorted_neighborhood_pairs(
        cust,
        "c_custkey",
        F.col("c_name"),
        window=3,
        coarse_key=F.col("c_nationkey"),
    ).orderBy("id_a", "id_b")


_E9_SORTED_BLOCKING_ORACLE = """
WITH base AS (
  SELECT c_custkey AS id, c_name AS k, c_nationkey AS blk
  FROM customer WHERE c_name IS NOT NULL
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY blk ORDER BY k ASC, id ASC) AS rn
  FROM base
), probes AS (
  SELECT blk, id AS id_a, k AS key_a, rn AS ra,
    unnest(generate_series(rn + 1, rn + 3)) AS rb
  FROM r
)
SELECT p.id_a, t.id AS id_b, p.key_a, t.k AS key_b,
  CAST(p.rb - p.ra AS INT) AS rank_gap
FROM probes p JOIN r t ON p.blk = t.blk AND p.rb = t.rn
ORDER BY id_a, id_b
"""


def q_e3_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3/E15 embedding QA census (sim_ops.embedding_outlier_report):
    per coarse cell (8 seeded centroids, the IVF assignment), the count
    of vectors whose affinity to their own cell falls 2σ below the cell
    mean — encoder failures / corrupted inputs surface here before they
    poison an ANN index or semantic dedup.  Map-only assignment against
    the plan-literal codebook + one cell-keyed aggregate; moments
    DECIMAL-exact.  Fully oracled (codebook + struct-max replayed)."""
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    return sim_ops.embedding_outlier_report(
        emb, "embedding", dim=64, n_centroids=8, seed=7, z=2.0
    )


def _embed_outliers_oracle() -> str:
    from dataengineer_spark.operators.similarity import _centroids

    dim, n_centroids = 64, 8
    cents = _centroids(dim, n_centroids, seed=7)
    cm = (
        "["
        + ", ".join("[" + ", ".join(repr(x) for x in c) + "]" for c in cents)
        + "]"
    )
    scores = (
        f"list_transform(generate_series(0, {n_centroids - 1}), "
        "i -> {'score': list_reduce(list_transform("
        f"generate_series(1, {dim}), "
        "j -> v[j] * cm[i + 1][j]), (a, b) -> a + b), 'cell': i})"
    )
    sim9 = "CAST(round(sim, 9) AS DECIMAL(10,9))"
    return f"""
WITH e0 AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE embedding IS NOT NULL
), e AS (
  SELECT v[1:{dim}] AS v FROM e0
  WHERE len(v) >= {dim}
    AND len(list_filter(v[1:{dim}], e -> e IS NULL)) = 0
), lits AS (
  SELECT CAST({cm} AS DOUBLE[][]) AS cm
), bk AS (
  SELECT v, {scores} AS scores,
    sqrt(list_reduce(list_transform(generate_series(1, {dim}),
      j -> v[j] * v[j]), (a, b) -> a + b)) AS nrm
  FROM e CROSS JOIN lits
), a AS (
  SELECT (list_max(scores)).cell AS cell,
    (list_max(scores)).score / nrm AS sim
  FROM bk WHERE nrm > 0
), st AS (
  SELECT cell, CAST(count(*) AS BIGINT) AS n,
    sum({sim9}) AS s, sum({sim9} * {sim9}) AS s2
  FROM a GROUP BY cell
), mo AS (
  SELECT cell, n,
    CAST(s AS DOUBLE) / n AS m,
    CASE WHEN n >= 2 THEN sqrt(greatest(
      (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
        / (n - 1.0), 0.0)) END AS sd
  FROM st
), fl AS (
  SELECT a.cell,
    CAST(sum(CASE WHEN mo.sd IS NOT NULL AND a.sim < mo.m - 2.0 * mo.sd
      THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
  FROM a JOIN mo ON a.cell = mo.cell GROUP BY a.cell
)
SELECT CAST(mo.cell AS INT) AS cell, mo.n, round(mo.m, 6) AS mean_sim,
  round(mo.sd, 6) AS std_sim, fl.n_outliers
FROM mo JOIN fl ON mo.cell = fl.cell ORDER BY cell
"""


def q_e10_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10/E15 seasonal-baseline anomalies (events.seasonal_anomaly):
    events whose value sits 3σ outside their own (event type,
    day-of-week) cell — the weekly-profile complement of the trailing
    z-score, which aliases seasonality.  Integral micro-unit moments
    (Σv² at exactly DuckDB's 38-digit cap), one (key,dow)-bounded
    aggregate broadcast back, corpus never shuffles.  Fully oracled
    (DuckDB's 0-based weekday shifted to Spark's Sunday=1)."""
    from dataengineer_spark.operators import events as ev_ops

    ev = load_table(spark, sf_dir, "events")
    return ev_ops.seasonal_anomaly(
        ev, "event_type", "ts", "value", "event_id", z=3.0
    ).orderBy("id")


_E10_SEASONAL_ORACLE = """
WITH base AS (
  SELECT event_type AS key, event_id AS id, ts,
    CAST(value AS DOUBLE) AS value,
    dayofweek(CAST(ts AS DATE)) + 1 AS dow,
    CAST(round(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS vi
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
), cells AS (
  SELECT key, dow, count(*) AS n,
    sum(CAST(vi AS DECIMAL(19,0))) AS s,
    sum(CAST(vi AS DECIMAL(19,0)) * CAST(vi AS DECIMAL(19,0))) AS s2
  FROM base GROUP BY key, dow
), mo AS (
  SELECT key, dow,
    CAST(s AS DOUBLE) / n AS m,
    CASE WHEN n >= 2 THEN sqrt(greatest(
      (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
        / (n - 1.0), 0.0)) END AS sd
  FROM cells
)
SELECT b.key, b.id, b.ts, b.value, CAST(b.dow AS INT) AS dow,
  round(mo.m / 1000000, 6) AS cell_mean,
  round(mo.sd / 1000000, 6) AS cell_std
FROM base b JOIN mo ON b.key = mo.key AND b.dow = mo.dow
WHERE mo.sd IS NOT NULL
  AND abs(CAST(b.vi AS DOUBLE) - mo.m) > 3.0 * mo.sd
ORDER BY b.id
"""


def q_dq_fd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15 functional-dependency audit (quality.
    functional_dependency_report): does o_custkey determine
    o_orderpriority?  (It should not — and the report quantifies by
    how much: violating-group share and the worst fan-out.)  The
    schema-profiling read behind join-key safety and the regression
    alarm for feeds shipping conflicting attribute values per key.
    One exact distinct-per-group aggregate + one-row summary.  Fully
    oracled (NULL RHS counts as a value of its own on both engines)."""
    from dataengineer_spark.operators import quality

    orders = load_table(spark, sf_dir, "orders")
    return quality.functional_dependency_report(
        orders, ["o_custkey"], "o_orderpriority"
    )


_DQ_FD_ORACLE = """
WITH g AS (
  SELECT o_custkey,
    count(DISTINCT o_orderpriority)
      + max(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS nd
  FROM orders WHERE o_custkey IS NOT NULL GROUP BY o_custkey
)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
  CAST(coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
    AS n_violating,
  round(CASE WHEN count(*) > 0
    THEN coalesce(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END), 0)
      / CAST(count(*) AS DOUBLE) END, 6) AS violation_rate,
  CAST(coalesce(max(nd), 0) AS BIGINT) AS max_rhs_distinct
FROM g
"""


def q_e10_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10 funnel latency (events.conversion_lag_report): per
    signup-cohort month, exact p50/p90 of the seconds from each user's
    first signup to their first subsequent purchase — the HOW-LONG view
    the funnel's HOW-MANY counts don't answer.  Integer epoch-second
    lags, exact interpolated percentiles per cohort (no global sort).
    Fully oracled (quantile_cont)."""
    from dataengineer_spark.operators import events as ev_ops

    ev = load_table(spark, sf_dir, "events")
    return ev_ops.conversion_lag_report(
        ev, "user_id", "ts", "event_type", "signup", "purchase"
    )


_E10_CONVERSION_LAG_ORACLE = """
WITH f AS (
  SELECT user_id, min(ts) AS f_ts FROM events
  WHERE event_type = 'signup' AND user_id IS NOT NULL GROUP BY user_id
), t AS (
  SELECT e.user_id, min(e.ts) AS t_ts
  FROM events e JOIN f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase' AND e.ts > f.f_ts
  GROUP BY e.user_id
), lag AS (
  SELECT strftime(CAST(date_trunc('month', f.f_ts) AS DATE), '%Y-%m')
    AS cohort,
    CAST(CAST(floor(epoch(t.t_ts)) AS BIGINT)
      - CAST(floor(epoch(f.f_ts)) AS BIGINT) AS DOUBLE) AS lag_s
  FROM f JOIN t ON f.user_id = t.user_id
)
SELECT cohort, CAST(count(*) AS BIGINT) AS n_converted,
  round(quantile_cont(lag_s, 0.5), 4) AS p50_lag,
  round(quantile_cont(lag_s, 0.9), 4) AS p90_lag
FROM lag GROUP BY cohort ORDER BY cohort
"""


def q_dq_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15 score-drift PSI (quality.psi_report): population stability
    index of event values between the even- and odd-id cohorts (an A/A
    split — the calibration read PSI alarms are tuned against) over 9
    literal 50-unit bins.  One conditional-aggregate scan; empty bins
    floored at 1e-6 before the ratio; ln parity per the KL-drift
    precedent.  Fully oracled."""
    from dataengineer_spark.operators import quality

    ev = load_table(spark, sf_dir, "events")
    return quality.psi_report(
        ev,
        "value",
        F.pmod(F.col("event_id"), F.lit(2)) == 0,
        [float(50 * i) for i in range(1, 10)],
    )


def _dq_psi_oracle() -> str:
    edges = [float(50 * i) for i in range(1, 10)]
    ladder = "CASE " + " ".join(
        f"WHEN x < {e!r} THEN {i}" for i, e in enumerate(edges)
    ) + f" ELSE {len(edges)} END"
    return f"""
WITH src AS (
  SELECT CAST(value AS DOUBLE) AS x,
    CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS a
  FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL
), tagged AS (
  SELECT {ladder} AS bin, a FROM src
), counts AS (
  SELECT bin, CAST(sum(a) AS BIGINT) AS n_a,
    CAST(sum(1 - a) AS BIGINT) AS n_b
  FROM tagged GROUP BY bin
), bins AS (
  SELECT CAST(unnest(generate_series(0, {len(edges)})) AS INT) AS bin
), filled AS (
  SELECT b.bin, coalesce(c.n_a, 0) AS n_a, coalesce(c.n_b, 0) AS n_b
  FROM bins b LEFT JOIN counts c ON b.bin = c.bin
), tot AS (
  SELECT CAST(sum(n_a) AS DOUBLE) AS ta, CAST(sum(n_b) AS DOUBLE) AS tb
  FROM filled
), p AS (
  SELECT bin, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
    greatest(CASE WHEN ta > 0 THEN n_a / ta ELSE 0.0 END, 1e-06) AS pa,
    greatest(CASE WHEN tb > 0 THEN n_b / tb ELSE 0.0 END, 1e-06) AS pb
  FROM filled CROSS JOIN tot
)
SELECT bin, n_a, n_b,
  round(pa, 6) AS p_a, round(pb, 6) AS p_b,
  round((pa - pb) * ln(pa / pb), 6) AS psi_term
FROM p ORDER BY bin
"""


def q_dq_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15 k-anonymity risk census (quality.k_anonymity_report):
    customers whose (nation, market segment, name-suffix bucket)
    equivalence class holds fewer than k=5 members are
    re-identification candidates — the release review before data
    leaves a trust boundary.  NULL quasi components form their own
    classes (two all-NULL rows ARE indistinguishable).  One group-size
    aggregate + one-row summary.  Fully oracled."""
    from dataengineer_spark.operators import quality

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        # a coarse behavioural bucket to make classes realistically
        # small: last 2 digits of the key mod 7
        (F.pmod(F.col("c_custkey"), F.lit(7))).alias("bucket"),
    )
    return quality.k_anonymity_report(
        cust, ["c_nationkey", "c_mktsegment", "bucket"], k=5
    )


_DQ_KANON_ORACLE = """
WITH sizes AS (
  SELECT c_nationkey, c_mktsegment, c_custkey % 7 AS bucket,
    count(*) AS n
  FROM customer GROUP BY c_nationkey, c_mktsegment, c_custkey % 7
)
SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS n_rows,
  CAST(count(*) AS BIGINT) AS n_classes,
  CAST(coalesce(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END), 0) AS BIGINT)
    AS n_small_classes,
  CAST(coalesce(sum(CASE WHEN n < 5 THEN n ELSE 0 END), 0) AS BIGINT)
    AS rows_at_risk,
  CAST(min(n) AS BIGINT) AS min_class_size,
  round(sum(CASE WHEN n < 5 THEN n ELSE 0 END)
    / CAST(sum(n) AS DOUBLE), 6) AS risk_share
FROM sizes
"""


def q_e10_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10 inter-arrival burstiness (events.burstiness_report): per
    event type, the coefficient of variation of epoch-second gaps under
    the total (ts, id) order — CV≈1 Poisson-like, ≫1 bursty (retry
    storms), ≪1 metronome (bots) — the traffic-shape read behind
    rate-limit thresholds.  Integer-exact DECIMAL moments, clamped
    variance.  One window shuffle + one key aggregate.  Fully
    oracled."""
    from dataengineer_spark.operators import events as ev_ops

    ev = load_table(spark, sf_dir, "events")
    return ev_ops.burstiness_report(ev, "event_type", "ts", "event_id")


_E10_BURSTINESS_ORACLE = """
WITH base AS (
  SELECT event_type AS key, CAST(floor(epoch(ts)) AS BIGINT) AS es,
    event_id AS id
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
), g AS (
  SELECT key,
    es - lag(es) OVER (PARTITION BY key ORDER BY es, id) AS gap
  FROM base
), gg AS (
  SELECT key, gap FROM g WHERE gap IS NOT NULL
), agg AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n_gaps,
    sum(CAST(gap AS DECIMAL(19,0))) AS s,
    sum(CAST(gap AS DECIMAL(19,0)) * CAST(gap AS DECIMAL(19,0))) AS s2
  FROM gg GROUP BY key
)
SELECT key, n_gaps,
  round(CAST(s AS DOUBLE) / n_gaps, 6) AS mean_gap_s,
  round(CASE WHEN n_gaps >= 2 AND CAST(s AS DOUBLE) / n_gaps > 0
    THEN sqrt(greatest(
      (CAST(s2 AS DOUBLE)
        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n_gaps)
        / (n_gaps - 1.0), 0.0))
      / (CAST(s AS DOUBLE) / n_gaps)
    END, 6) AS cv
FROM agg ORDER BY key
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


#: Every registered query, in the order ``queries()`` returns them: the
#: driver's ~50-query correctness sample is taken from the front, so
#: never-sampled and stalest-sampled oracled queries lead.  The
#: rows-only queries (no ``oracle_sql()`` entry; README lists each one's
#: reason) form the tail, so no sample slot lands on an err:"no_oracle"
#: row (tests/test_entry.py checks both rules).
QUERY_ORDER = (
    # twins oracled by the DuckDB xxhash64 replay lead: never driver-sampled
    "q_e2_simhash_neardup", "q_e4_fingerprint", "q_prep_dsir_hashed",
    "q_prep_decontaminate", "q_e2_neardup_dedup", "q_e2_dup_spans_hashed",
    "q_prep_semantic_decontaminate_arrow",
    # round-11 addition leads the rotation: never driver-sampled yet
    "q_graph_pagerank_dangling", "q_graph_bfs_level",
    # round-10 additions
    "q_f5_truncate_tokens", "q_e11_stream_neardup_live",
    "q_e9_fuzzy_join_topk", "q_tpch_q9", "q_tpch_q13", "q_tpch_q15",
    "q_tpch_q16", "q_tpch_q19", "q_tpch_q22", "q_tpch_q2", "q_tpch_q11",
    "q_tpch_q20", "q_tpch_q21", "q_e12_udf", "q_e12_grouped_map",
    "q_e12_iter_udf", "q_e12_grouped_agg", "q_e12_hof", "q_k3_csv_roundtrip",
    "q_k3_json_roundtrip", "q_k3_orc_roundtrip", "q_s7_bucketed_join",
    "q_dq_constraints", "q_dq_null_rates", "q_dq_orphans", "q_prep_sample_n",
    "q_e5_percentile_dist", "q_e4_edit_distance", "q_o6_batch_lifecycle",
    "q_e1_incremental_dedup", "q_e4_pii_redact", "q_rank_bm25",
    "q_e9_asof_join", "q_e9_asof_tolerance", "q_e10_tumbling",
    "q_e10_sliding", "q_e10_session", "q_e4_c4_filter", "q_e4_gopher_filter",
    "q_rank_tfidf", "q_dq_funnel",
    "q_k5_merge_upsert", "q_e3_topk_arrow", "q_e11_stream_dedup",
    "q_e2_cluster_dedup", "q_e4_repetition", "q_prep_pack", "q_prep_mixture",
    "q_prep_contamination", "q_e2_embed_neardup", "q_e4_quality",
    "q_e4_tokens", "q_e5_groupingsets", "q_e11_stream_lake",
    "q_e11_stream_join", "q_e11_stateful", "q_e11_stream_session",
    "q_json_extract", "q_e5_pivot", "q_e5_unpivot", "q_e5_distinct_agg",
    "q_e5_percentile", "q_e7_grouptopk_salted", "q_prep_split",
    "q_prep_stratified", "q_sql_api", "q_prep_wordcount", "q_mm_stats",
    "q_e2_embed_lsh_neardup", "q_e5_corr_stats", "q_e1_dup_weights",
    "q_e4_perplexity", "q_e14_partitioned_scan", "q_e12_udtf",
    "q_e12_apply_arrow", "q_e2_minhash_portable", "q_json_variant",
    "q_m1_classifier", "q_m2_qa_sectionize", "q_e3_ivf_topk", "q_e10_anomaly",
    "q_a5_confusion", "q_a4_calibration", "q_graph_triangles",
    "q_e5_regression", "q_e5_rfm", "q_rank_rrf", "q_e3_dim_stats",
    "q_e10_retention", "q_e10_resample", "q_e10_attribution",
    "q_graph_pagerank", "q_e9_fuzzy_join", "q_f10_pmi", "q_f9_bpe_train",
    "q_s8_zorder_scan", "q_j5_salted_join", "q_dq_snapshot_diff",
    "q_dq_drift", "q_k6_scd2", "q_e11_stream_hll",
    "q_e11_stream_decontaminate", "q_prep_bloom_decontaminate",
    "q_prep_pps_sample", "q_prep_chunk", "q_e2_semantic_dedup",
    "q_e2_semantic_dedup_trained", "q_e4_perplexity_ref",
    "q_e5_approx_percentile", "q_e5_approx_distinct", "q_e5_hll_rollup",
    "q_e5_cms_topk", "q_e5_histogram", "q_e5_winsorize", "q_mm_features",
    "q_mm_frame_sample", "q_mm_resize", "q_e2_ngram_jaccard", "q_e3_lsh_topk",
    "q_e3_pq_topk", "q_e3_jl_topk", "q_e3_kmeans", "q_graph_bfs",
    "q_e3_ivfpq_topk", "q_k7_incremental_agg", "q_k8_shard_export",
    "q_f11_zipf", "q_e11_stream_anomaly", "q_dq_skew", "q_e10_wow",
    "q_e9_linkage", "q_e2_setsim_join", "q_a3_kappa", "q_e4_oov", "q_a2_auc",
    "q_f12_bpe_tokenize", "q_f13_normalize", "q_prep_upsample",
    "q_prep_semantic_decontaminate", "q_dq_dup_rate", "q_k9_quarantine",
    "q_s9_schema_evolution", "q_prep_budget", "q_e2_incremental_neardup",
    "q_k10_cdc_apply", "q_e11_stream_neardup", "q_e1_dedup_by",
    "q_s10_corrupt_json", "q_a6_abtest", "q_dq_profile", "q_f1_clean_msg",
    "q_a1_accuracy", "q_e1_dedup", "q_e1_distinct", "q_e3_topk_sim",
    "q_e4_text_stats", "q_e4_langid", "q_e5_groupagg", "q_e5_rollup",
    "q_e5_cube", "q_e6_window", "q_e6_frames", "q_e7_topk", "q_e8_setops",
    "q_e9_semi_anti", "q_e9_range_join", "q_e11_stream_tumbling",
    "q_e3_ivfpq_trained", "q_e3_ivfpq_stored", "q_graph_pagerank3",
    "q_prep_temperature_mixture", "q_scrub_boilerplate", "q_prep_kfold",
    "q_a7_pr_curve", "q_e3_ann_recall", "q_e4_fertility",
    "q_f14_vocab_coverage", "q_e6_range_frame", "q_e10_transitions",
    "q_prep_length_buckets", "q_e3_pq_error", "q_a8_bootstrap",
    "q_e9_interval_join", "q_e2_neardup_recall", "q_e4_novelty",
    "q_dq_cross_source", "q_e10_conversation", "q_e10_decay", "q_a9_wilson",
    "q_e9_blocking_quality", "q_rank_fair_trim", "q_rank_ndcg", "q_rank_rbo",
    "q_prep_preference_pairs", "q_e10_cusum", "q_dq_benford",
    "q_a10_bradley_terry", "q_e6_ewma", "q_prep_curriculum",
    "q_dq_label_noise", "q_a11_paired_t", "q_e3_pca_power", "q_e9_proration",
    "q_rank_calibrate", "q_dq_lang_mismatch", "q_pipeline_curation2",
    "q_dq_datacard", "q_e2_containment", "q_dq_mad_outliers",
    "q_e9_interval_coverage", "q_k6_scd2_lookup", "q_prep_split_leakage",
    "q_e3_hard_negatives", "q_e3_knn_classify", "q_e3_pca_power1",
    "q_prep_churn_labels", "q_dq_gini", "q_a12_sliced_auc",
    "q_e9_sorted_blocking", "q_e3_embed_outliers", "q_e10_seasonal",
    "q_dq_fd", "q_e10_conversion_lag", "q_dq_psi", "q_dq_kanon",
    "q_e10_burstiness", "q_s1_csv_scan", "q_s2_table_scan",
    "q_s4_daterange_scan", "q_s5_rest_source", "q_s6_inline_table",
    "q_k2_batch_audit", "q_p1_project", "q_p2_select_where",
    "q_p3_conj_filter", "q_p5_lit_columns", "q_p6_rename", "q_p7_cast",
    "q_p8_dropna", "q_p9_struct_expand", "q_f4_sectionize", "q_f5_truncate",
    "q_f6_format_date", "q_f7_split_label", "q_j1_label_join",
    "q_j2_point_lookup", "q_j4_fanin_merge", "q_e3_pairwise_topk",
    "q_e10_funnel", "q_pipeline_dx_group", "q_pipeline_prostate",
    "q_pipeline_curation", "q_tpch_q6", "q_tpch_q18", "q_tpch_q17",
    "q_tpch_q12", "q_tpch_q14", "q_tpch_q3", "q_tpch_q5", "q_tpch_q10",
    "q_tpch_q1", "q_tpch_q4", "q_tpch_q7", "q_tpch_q8",
    # rows-only tail
    "q_e2_incremental_neardup_arrow", "q_e11_stream_neardup_arrow",
    "q_prep_decontaminate_arrow", "q_e2_minhash_neardup",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: globals()[name] for name in QUERY_ORDER}


def oracle_sql() -> dict[str, str]:
    return {
        "q_s1_csv_scan": "SELECT doc_id, lang, source, n_chars FROM documents",
        "q_s2_table_scan": (
            "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem "
            "WHERE l_quantity > 30"
        ),
        "q_s4_daterange_scan": (
            "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders "
            "WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00' "
            "AND TIMESTAMP '1995-12-31 00:00:00'"
        ),
        "q_s5_rest_source": _rest_oracle(),
        "q_s6_inline_table": (
            "SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'alpha'), "
            "(CAST(2 AS BIGINT), 'beta'), (CAST(3 AS BIGINT), 'gamma')) AS t(id, name)"
        ),
        "q_k2_batch_audit": _K2_ORACLE,
        "q_p1_project": "SELECT doc_id, lang FROM documents",
        "q_p2_select_where": (
            "SELECT l_orderkey, l_quantity, l_extendedprice FROM lineitem "
            "WHERE l_returnflag = 'R' AND l_quantity < 10"
        ),
        "q_p3_conj_filter": (
            "SELECT c_custkey, c_name FROM customer "
            "WHERE c_mktsegment = 'BUILDING' AND c_nationkey = 5"
        ),
        "q_p5_lit_columns": (
            "SELECT doc_id, CAST(7 AS BIGINT) AS batch_id, 'C61.9' AS site_code, "
            "'3' AS behaviour_code, '00' AS laterality, "
            "CAST(1.0 AS DOUBLE) AS pred_score FROM documents"
        ),
        "q_p6_rename": (
            "SELECT doc_id AS msgid, lang AS language, source AS origin FROM documents"
        ),
        "q_p7_cast": (
            "SELECT CAST(doc_id AS VARCHAR) AS doc_id, "
            "CAST(n_chars AS DOUBLE) AS n_chars FROM documents"
        ),
        "q_p8_dropna": (
            "SELECT doc_id, lang AS lang2 FROM documents WHERE lang <> 'en'"
        ),
        "q_p9_struct_expand": (
            "SELECT doc_id, lang AS lang_s, source AS source_s FROM documents"
        ),
        "q_f1_clean_msg": _F1_ORACLE,
        "q_f4_sectionize": _F4_ORACLE,
        "q_f5_truncate": _F5_ORACLE,
        "q_f5_truncate_tokens": _F5_TOKENS_ORACLE,
        "q_f6_format_date": (
            "SELECT o_orderkey, strftime(o_orderdate, '%Y%m%d') AS d FROM orders"
        ),
        "q_f7_split_label": _F7_ORACLE,
        "q_j1_label_join": _j1_oracle(),
        "q_j2_point_lookup": _J2_ORACLE,
        "q_j4_fanin_merge": _J4_ORACLE,
        "q_a1_accuracy": _A1_ORACLE,
        "q_e1_dedup": _E1_ORACLE,
        "q_e5_corr_stats": _E5_CORR_ORACLE,
        "q_e5_approx_distinct": _E5_APPROX_DISTINCT_ORACLE,
        "q_e5_approx_percentile": _E5_APPROX_PCT_ORACLE,
        "q_e5_hll_rollup": _E5_HLL_ROLLUP_ORACLE,
        "q_e5_cms_topk": _E5_CMS_TOPK_ORACLE,
        "q_e5_histogram": _E5_HISTOGRAM_ORACLE,
        "q_e5_winsorize": _E5_WINSORIZE_ORACLE,
        "q_e1_dup_weights": _E1_DUP_WEIGHTS_ORACLE,
        "q_e4_perplexity": _E4_PPL_ORACLE,
        "q_e4_perplexity_ref": _E4_PPL_REF_ORACLE,
        "q_e14_partitioned_scan": _E14_PARTITIONED_ORACLE,
        "q_e12_udtf": _E12_UDTF_ORACLE,
        "q_e12_apply_arrow": _E12_APPLY_ARROW_ORACLE,
        "q_e2_minhash_portable": _minhash_portable_oracle(),
        "q_e4_fingerprint": _E4_FP_ORACLE,
        "q_e2_neardup_dedup": _neardup_dedup_oracle(),
        "q_e2_simhash_neardup": _simhash_oracle(),
        "q_prep_decontaminate": _decontaminate_oracle(),
        "q_prep_split_leakage": _split_leakage_oracle(),
        "q_e2_embed_lsh_neardup": _embed_lsh_oracle(),
        "q_e3_lsh_topk": _lsh_topk_oracle(),
        "q_e3_hard_negatives": _hard_negatives_oracle(),
        "q_e3_knn_classify": _knn_classify_oracle(),
        "q_e3_ivf_topk": _ivf_topk_oracle(),
        "q_e3_pq_topk": _pq_topk_oracle(),
        "q_e3_jl_topk": _jl_topk_oracle(),
        "q_e3_kmeans": _kmeans_oracle(),
        "q_e2_semantic_dedup": _semantic_dedup_oracle(),
        "q_e2_semantic_dedup_trained": _semantic_dedup_trained_oracle(),
        "q_e2_ngram_jaccard": _E2_NGRAM_JACCARD_ORACLE,
        "q_m1_classifier": _M1_ORACLE,
        "q_m2_qa_sectionize": _M2_ORACLE,
        "q_json_variant": _JSON_VARIANT_ORACLE,
        "q_e1_distinct": _E1_DISTINCT_ORACLE,
        "q_e3_topk_sim": _E3_ORACLE,
        "q_e3_topk_arrow": _E3_ORACLE,
        "q_e3_pairwise_topk": _E3_PAIRWISE_ORACLE,
        "q_e4_text_stats": _E4_STATS_ORACLE,
        "q_e4_langid": _langid_oracle(),
        "q_e5_groupagg": _E5_ORACLE,
        "q_e5_rollup": _E5_ROLLUP_ORACLE,
        "q_e5_cube": _E5_CUBE_ORACLE,
        "q_e6_window": _E6_ORACLE,
        "q_e6_frames": _E6_FRAMES_ORACLE,
        "q_e7_topk": _E7_ORACLE,
        "q_e8_setops": _E8_ORACLE,
        "q_e9_semi_anti": _E9_SEMI_ORACLE,
        "q_e9_range_join": _E9_RANGE_ORACLE,
        "q_e9_asof_join": _E9_ASOF_ORACLE,
        "q_e9_asof_tolerance": _E9_ASOF_TOL_ORACLE,
        "q_e10_tumbling": _E10_TUMBLING_ORACLE,
        "q_e10_sliding": _E10_SLIDING_ORACLE,
        "q_e10_funnel": _E10_FUNNEL_ORACLE,
        "q_e10_session": _E10_SESSION_ORACLE,
        "q_e10_anomaly": _E10_ANOMALY_ORACLE,
        "q_graph_bfs": _bfs_oracle(),
        "q_e3_ivfpq_topk": _ivfpq_oracle(),
        "q_e3_ivfpq_trained": _ivfpq_trained_oracle(),
        "q_e3_ivfpq_stored": _ivfpq_oracle(),
        "q_k7_incremental_agg": _K7_INCRAGG_ORACLE,
        "q_k8_shard_export": _K8_SHARD_EXPORT_ORACLE,
        "q_f11_zipf": _zipf_oracle(),
        "q_e11_stream_anomaly": _E11_STREAM_ANOMALY_ORACLE,
        "q_dq_skew": _DQ_SKEW_ORACLE,
        "q_e10_wow": _E10_WOW_ORACLE,
        "q_e9_linkage": _linkage_oracle(),
        "q_e2_setsim_join": _E2_SETSIM_ORACLE,
        "q_a5_confusion": _confusion_oracle(),
        "q_a3_kappa": _kappa_oracle(),
        "q_a4_calibration": _A4_CALIBRATION_ORACLE,
        "q_graph_triangles": _GRAPH_TRIANGLES_ORACLE,
        "q_e5_regression": _E5_REGRESSION_ORACLE,
        "q_e5_rfm": _E5_RFM_ORACLE,
        "q_rank_rrf": _RANK_RRF_ORACLE,
        "q_e3_dim_stats": _E3_DIM_STATS_ORACLE,
        "q_e4_oov": _E4_OOV_ORACLE,
        "q_e10_retention": _E10_RETENTION_ORACLE,
        "q_e10_resample": _E10_RESAMPLE_ORACLE,
        "q_e10_attribution": _E10_ATTRIBUTION_ORACLE,
        "q_a2_auc": _A2_AUC_ORACLE,
        "q_graph_pagerank": _pagerank_oracle(),
        "q_graph_pagerank3": _pagerank_oracle(3),
        "q_graph_pagerank_dangling": _pagerank_dangling_oracle(3),
        "q_graph_bfs_level": _GRAPH_BFS_LEVEL_ORACLE,
        "q_e9_fuzzy_join": _E9_FUZZY_ORACLE,
        "q_e9_fuzzy_join_topk": _E9_FUZZY_TOPK_ORACLE,
        "q_f10_pmi": _F10_PMI_ORACLE,
        "q_f9_bpe_train": _bpe_oracle(),
        "q_f12_bpe_tokenize": _bpe_tokenize_oracle(),
        "q_f13_normalize": _normalize_oracle(),
        "q_prep_upsample": _PREP_UPSAMPLE_ORACLE,
        "q_prep_semantic_decontaminate": _PREP_SEMDECON_ORACLE,
        "q_prep_semantic_decontaminate_arrow": _PREP_SEMDECON_ORACLE,
        "q_dq_dup_rate": _DQ_DUP_RATE_ORACLE,
        "q_k9_quarantine": _K9_QUARANTINE_ORACLE,
        "q_s9_schema_evolution": _S9_SCHEMA_EVOLUTION_ORACLE,
        "q_prep_budget": _PREP_BUDGET_ORACLE,
        "q_prep_temperature_mixture": _PREP_TEMPMIX_ORACLE,
        "q_scrub_boilerplate": _SCRUB_BOILERPLATE_ORACLE,
        "q_e2_incremental_neardup": _incremental_neardup_oracle(),
        "q_k10_cdc_apply": _K10_CDC_ORACLE,
        "q_e11_stream_neardup": _stream_neardup_oracle(),
        "q_e11_stream_neardup_live": _stream_live_oracle(),
        "q_e1_dedup_by": _E1_DEDUP_BY_ORACLE,
        "q_s10_corrupt_json": _S10_CORRUPT_JSON_ORACLE,
        "q_a6_abtest": _A6_ABTEST_ORACLE,
        "q_prep_kfold": _PREP_KFOLD_ORACLE,
        "q_a7_pr_curve": _A7_PR_CURVE_ORACLE,
        "q_e3_ann_recall": _ann_recall_oracle(),
        "q_e4_fertility": _E4_FERTILITY_ORACLE,
        "q_f14_vocab_coverage": _F14_VOCAB_COVERAGE_ORACLE,
        "q_e6_range_frame": _E6_RANGE_FRAME_ORACLE,
        "q_e10_transitions": _E10_TRANSITIONS_ORACLE,
        "q_prep_length_buckets": _PREP_LENGTH_BUCKETS_ORACLE,
        "q_e3_pq_error": _pq_error_oracle(),
        "q_a8_bootstrap": _bootstrap_oracle(),
        "q_e9_interval_join": _E9_INTERVAL_ORACLE,
        "q_e2_neardup_recall": _neardup_recall_oracle(),
        "q_e4_novelty": _E4_NOVELTY_ORACLE,
        "q_dq_cross_source": _DQ_CROSS_SOURCE_ORACLE,
        "q_e10_conversation": _E10_CONVERSATION_ORACLE,
        "q_e10_decay": _decay_oracle(),
        "q_a9_wilson": _wilson_oracle(),
        "q_e9_blocking_quality": _E9_BLOCKING_ORACLE,
        "q_rank_fair_trim": _RANK_FAIR_TRIM_ORACLE,
        "q_rank_ndcg": _rank_ndcg_oracle(),
        "q_rank_rbo": _rank_rbo_oracle(),
        "q_prep_preference_pairs": _PREP_PREFERENCE_PAIRS_ORACLE,
        "q_e10_cusum": _E10_CUSUM_ORACLE,
        "q_dq_benford": _dq_benford_oracle(),
        "q_a10_bradley_terry": _a10_bradley_terry_oracle(),
        "q_e6_ewma": _e6_ewma_oracle(),
        "q_prep_curriculum": _PREP_CURRICULUM_ORACLE,
        "q_dq_label_noise": _dq_label_noise_oracle(),
        "q_a11_paired_t": _A11_PAIRED_T_ORACLE,
        "q_e3_pca_power": _pca_power_oracle(),
        "q_e3_pca_power1": _pca_power_oracle(iters=1),
        "q_e9_proration": _E9_PRORATION_ORACLE,
        "q_rank_calibrate": _RANK_CALIBRATE_ORACLE,
        "q_dq_lang_mismatch": _dq_lang_mismatch_oracle(),
        "q_prep_churn_labels": _PREP_CHURN_LABELS_ORACLE,
        "q_dq_gini": _DQ_GINI_ORACLE,
        "q_a12_sliced_auc": _A12_SLICED_AUC_ORACLE,
        "q_e9_sorted_blocking": _E9_SORTED_BLOCKING_ORACLE,
        "q_e3_embed_outliers": _embed_outliers_oracle(),
        "q_e10_seasonal": _E10_SEASONAL_ORACLE,
        "q_dq_fd": _DQ_FD_ORACLE,
        "q_e10_conversion_lag": _E10_CONVERSION_LAG_ORACLE,
        "q_dq_psi": _dq_psi_oracle(),
        "q_dq_kanon": _DQ_KANON_ORACLE,
        "q_e10_burstiness": _E10_BURSTINESS_ORACLE,
        "q_pipeline_curation2": _PIPELINE_CURATION2_ORACLE,
        "q_dq_datacard": _DQ_DATACARD_ORACLE,
        "q_e2_containment": _E2_CONTAINMENT_ORACLE,
        "q_dq_mad_outliers": _DQ_MAD_ORACLE,
        "q_e9_interval_coverage": _E9_COVERAGE_ORACLE,
        "q_e11_stream_tumbling": _E11_ORACLE,
        "q_e12_udf": _E12_ORACLE,
        "q_e12_grouped_map": _E12_GROUPED_ORACLE,
        "q_e12_iter_udf": _E12_ITER_ORACLE,
        "q_e12_grouped_agg": _E12_UDAF_ORACLE,
        "q_e12_hof": _E12_HOF_ORACLE,
        "q_e2_embed_neardup": _E2_EMBED_ORACLE,
        "q_e4_quality": _E4_QUALITY_ORACLE,
        "q_e4_tokens": _E4_TOKENS_ORACLE,
        "q_e5_groupingsets": _E5_GSETS_ORACLE,
        "q_tpch_q6": _TPCH_Q6_ORACLE,
        "q_tpch_q18": _TPCH_Q18_ORACLE,
        "q_tpch_q17": _TPCH_Q17_ORACLE,
        "q_tpch_q12": _TPCH_Q12_ORACLE,
        "q_tpch_q14": _TPCH_Q14_ORACLE,
        "q_k3_csv_roundtrip": _K3_ORACLE,
        "q_k3_json_roundtrip": _K3_JSON_ORACLE,
        "q_k3_orc_roundtrip": _K3_ORC_ORACLE,
        "q_e11_stream_lake": _E11_LAKE_ORACLE,
        "q_e11_stream_join": _E11_JOIN_ORACLE,
        "q_s7_bucketed_join": _S7_BUCKETED_ORACLE,
        "q_s8_zorder_scan": _S8_ZORDER_ORACLE,
        "q_j5_salted_join": _J5_SALTED_ORACLE,
        "q_e11_stateful": _E11_STATEFUL_ORACLE,
        "q_e1_incremental_dedup": _E1_INCR_ORACLE,
        "q_e11_stream_session": _E10_SESSION_ORACLE,
        "q_json_extract": _JSON_ORACLE,
        "q_e5_pivot": _E5_PIVOT_ORACLE,
        "q_e5_unpivot": _E5_UNPIVOT_ORACLE,
        "q_e5_distinct_agg": _E5_DISTINCT_ORACLE,
        "q_e5_percentile": _E5_PERCENTILE_ORACLE,
        "q_e5_percentile_dist": _E5_PERCENTILE_ORACLE,
        "q_e7_grouptopk_salted": _E7_SALTED_ORACLE,
        "q_prep_split": _PREP_SPLIT_ORACLE,
        "q_prep_stratified": _PREP_STRATIFIED_ORACLE,
        "q_prep_sample_n": _PREP_SAMPLE_ORACLE,
        "q_dq_constraints": _DQ_CONSTRAINTS_ORACLE,
        "q_e4_edit_distance": _E4_EDIT_ORACLE,
        "q_sql_api": _SQL_API_TEXT,
        "q_dq_null_rates": _DQ_NULLS_ORACLE,
        "q_dq_orphans": _DQ_ORPHANS_ORACLE,
        "q_prep_wordcount": _PREP_WORDCOUNT_ORACLE,
        "q_prep_chunk": _PREP_CHUNK_ORACLE,
        "q_k5_merge_upsert": _K5_MERGE_ORACLE,
        "q_k6_scd2": _K6_SCD2_ORACLE,
        "q_k6_scd2_lookup": _K6_SCD2_LOOKUP_ORACLE,
        "q_e11_stream_dedup": _E11_STREAM_DEDUP_ORACLE,
        "q_e11_stream_hll": _E11_STREAM_HLL_ORACLE,
        "q_e2_cluster_dedup": _E2_CLUSTER_ORACLE,
        "q_e4_repetition": _E4_REPETITION_ORACLE,
        "q_prep_pack": _PREP_PACK_ORACLE,
        "q_prep_mixture": _PREP_MIXTURE_ORACLE,
        "q_prep_contamination": _PREP_CONTAMINATION_ORACLE,
        "q_e11_stream_decontaminate": _PREP_CONTAMINATION_ORACLE,
        "q_prep_bloom_decontaminate": _PREP_BLOOM_ORACLE,
        "q_prep_pps_sample": _PREP_PPS_ORACLE,
        "q_e4_pii_redact": _pii_oracle(),
        "q_e4_c4_filter": _E4_C4_ORACLE,
        "q_e4_gopher_filter": _gopher_oracle(),
        "q_rank_tfidf": _RANK_TFIDF_ORACLE,
        "q_rank_bm25": _RANK_BM25_ORACLE,
        "q_e2_dup_spans_hashed": _E2_DUP_SPANS_ORACLE.format(words=_SQL_WORDS),
        "q_prep_dsir_hashed": _PREP_DSIR_ORACLE,
        "q_dq_funnel": _gopher_funnel_oracle(),
        "q_dq_snapshot_diff": _DQ_SNAPSHOT_DIFF_ORACLE,
        "q_dq_drift": _DQ_DRIFT_ORACLE,
        "q_dq_profile": _DQ_PROFILE_ORACLE,
        "q_tpch_q3": _TPCH_Q3_ORACLE,
        "q_tpch_q5": _TPCH_Q5_ORACLE,
        "q_tpch_q10": _TPCH_Q10_ORACLE,
        "q_tpch_q1": _TPCH_Q1_ORACLE,
        "q_tpch_q4": _TPCH_Q4_ORACLE,
        "q_tpch_q7": _TPCH_Q7_ORACLE,
        "q_tpch_q8": _TPCH_Q8_ORACLE,
        "q_tpch_q9": _TPCH_Q9_ORACLE,
        "q_tpch_q13": _TPCH_Q13_ORACLE,
        "q_tpch_q15": _TPCH_Q15_ORACLE,
        "q_tpch_q16": _TPCH_Q16_ORACLE,
        "q_tpch_q19": _TPCH_Q19_ORACLE,
        "q_tpch_q22": _TPCH_Q22_ORACLE,
        "q_tpch_q2": _TPCH_Q2_ORACLE,
        "q_tpch_q11": _TPCH_Q11_ORACLE,
        "q_tpch_q20": _TPCH_Q20_ORACLE,
        "q_tpch_q21": _TPCH_Q21_ORACLE,
        "q_o6_batch_lifecycle": _O6_ORACLE,
        "q_mm_stats": _MM_STATS_ORACLE,
        "q_mm_features": _MM_FEATURES_ORACLE,
        "q_mm_resize": _MM_RESIZE_ORACLE,
        "q_mm_frame_sample": _MM_FRAME_SAMPLE_ORACLE,
        "q_pipeline_dx_group": _FLAGSHIP_ORACLE,
        "q_pipeline_prostate": _prostate_oracle(),
        "q_pipeline_curation": _curation_oracle(),
        # ---- rows-only queries (the QUERY_ORDER tail): reasons
        #   q_e2_minhash_neardup → perfbench's text_dedup check uses the
        #       seeded pair count only while this has no oracle (see its
        #       docstring); q_e2_minhash_portable runs the identical plan
        #       with the portable family and is oracled, and
        #       q_e2_neardup_dedup / q_prep_decontaminate replay the
        #       xxhash64 family's shingle hashes
        #   q_prep_decontaminate_arrow, q_e2_incremental_neardup_arrow,
        #   q_e11_stream_neardup_arrow → the Arrow family's byte-level
        #       base-257 rolling hash (dedup.minhash_signatures_arrow) has
        #       no DuckDB replay yet; their portable/xxhash64 siblings
        #       run the same probe plan and are oracled
    }
