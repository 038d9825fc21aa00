"""Operator-library unit tests on tiny inline frames (SURVEY.md §5.2.4)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

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


class TestProjection:
    def test_rename_all_mismatch_raises(self, spark):
        df = spark.createDataFrame([(1, 2)], "a int, b int")
        with pytest.raises(ValueError):
            proj_ops.rename_all(df, ["x"])

    def test_select_where_filters_before_projection(self, spark):
        df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
        out = proj_ops.select_where(df, columns=["v"], conditions=[F.col("k") == 2])
        assert [r["v"] for r in out.collect()] == ["b"]

    def test_expand_struct(self, spark):
        df = spark.createDataFrame([(1,)], "k int").select(
            "k", F.struct(F.lit("x").alias("a")).alias("s")
        )
        assert proj_ops.expand_struct(df, "s").columns == ["k", "a"]


class TestJoins:
    def test_point_lookup_returns_single_row(self, spark):
        df = spark.createDataFrame(
            [(1, "m", 1), (2, "m", 2)], "id long, name string, v int"
        )
        row = join_ops.point_lookup(df, name="m", v=2)
        assert row["id"] == 2
        assert join_ops.point_lookup(df, name="absent") is None

    def test_fanin_merge_outer(self, spark):
        b1 = spark.createDataFrame([(1, "a"), (2, "b")], "msg_id long, x string")
        b2 = spark.createDataFrame([(1, 10)], "msg_id long, y int")
        out = join_ops.fanin_merge([b1, b2]).orderBy("msg_id").collect()
        assert out[0]["y"] == 10 and out[1]["y"] is None

    def test_asof_backward_includes_equal_ts(self, spark):
        left = spark.createDataFrame(
            [(1, 100, "p1"), (1, 50, "p2"), (2, 10, "p3")], "k long, ts long, pl string"
        )
        right = spark.createDataFrame(
            [(1, 100, 9.0), (1, 40, 5.0), (3, 1, 1.0)], "k long, ts long, rv double"
        )
        out = {
            r["pl"]: r["rv"]
            for r in join_ops.asof_join(left, right, on="k", left_ts="ts").collect()
        }
        assert out == {"p1": 9.0, "p2": 5.0, "p3": None}

    def test_asof_forward(self, spark):
        left = spark.createDataFrame([(1, 50, "p")], "k long, ts long, pl string")
        right = spark.createDataFrame(
            [(1, 40, 1.0), (1, 60, 2.0), (1, 70, 3.0)], "k long, ts long, rv double"
        )
        out = join_ops.asof_join(
            left, right, on="k", left_ts="ts", direction="forward"
        ).first()
        assert out["rv"] == 2.0

    def test_asof_null_payload_is_row_atomic(self, spark):
        # pandas merge_asof semantics: the match IS the nearest right row;
        # its NULL payload stays NULL instead of leaking an older row's
        # value, and the tolerance verdict uses that same row (ADVICE r3).
        left = spark.createDataFrame([(1, 100, "p")], "k long, ts long, pl string")
        right = spark.createDataFrame(
            [(1, 10, 7.0, "old"), (1, 95, None, "new")],
            "k long, ts long, rv double, tag string",
        )
        out = join_ops.asof_join(left, right, on="k", left_ts="ts").first()
        assert out["tag"] == "new" and out["rv"] is None
        # nearest row (ts=95) is within tolerance even though the older
        # non-null rv row (ts=10) is not: payload must be kept, rv NULL
        tol = join_ops.asof_join(
            left, right, on="k", left_ts="ts", tolerance=20
        ).first()
        assert tol["tag"] == "new" and tol["rv"] is None
        # tolerance excluding the nearest row nulls the WHOLE payload
        none = join_ops.asof_join(
            left, right, on="k", left_ts="ts", tolerance=2
        ).first()
        assert none["tag"] is None and none["rv"] is None

    def test_asof_clash_raises(self, spark):
        left = spark.createDataFrame([(1, 1, 2.0)], "k long, ts long, v double")
        right = spark.createDataFrame([(1, 1, 3.0)], "k long, ts long, v double")
        with pytest.raises(ValueError, match="clash"):
            join_ops.asof_join(left, right, on="k")

    def test_semi_anti(self, spark):
        a = spark.createDataFrame([(1,), (2,)], "k long")
        b = spark.createDataFrame([(2,)], "k long")
        assert join_ops.semi_join(a, b, "k").collect()[0]["k"] == 2
        assert join_ops.anti_join(a, b, "k").collect()[0]["k"] == 1


class TestSaltedJoin:
    def test_result_identical_to_plain_join_under_skew(self, spark):
        from dataengineer_spark.operators.joins import salted_join

        # one hot key (90% of the fact side) plus a long tail
        fact = spark.createDataFrame(
            [(1, i) for i in range(900)] + [(k, k) for k in range(2, 102)],
            "k long, v long",
        )
        dim = spark.createDataFrame(
            [(k, f"d{k}") for k in range(1, 102)], "dk long, label string"
        )
        salted = salted_join(fact, dim, "k", "dk", n_salt=8)
        plain = fact.join(dim, fact.k == dim.dk)
        assert salted.count() == plain.count() == 1000
        assert salted.exceptAll(plain).count() == 0
        assert plain.exceptAll(salted).count() == 0

    def test_hot_key_spreads_over_salts(self, spark):
        from pyspark.sql import functions as F

        # the whole-row hash must spread one key's rows across salts
        fact = spark.createDataFrame([(1, i) for i in range(500)], "k long, v long")
        n_distinct = (
            fact.select(F.pmod(F.xxhash64("k", "v"), F.lit(8)).alias("s"))
            .distinct()
            .count()
        )
        assert n_distinct == 8


class TestAggregates:
    def test_accuracy_with_nulls(self, spark):
        df = spark.createDataFrame(
            [(1, 1), (1, 2), (None, None), (None, 1)], "p int, t int"
        )
        # eqNullSafe: null==null counts as hit → 2/4
        assert agg_ops.accuracy(df, "p", "t").first()["accuracy"] == 0.5

    def test_percentiles_exact_and_distributed_agree(self, spark):
        import random

        rng = random.Random(7)
        rows = [(g, rng.uniform(0, 1000)) for g in ("a", "b") for _ in range(501)]
        rows += [("solo", 42.0)]  # n=1 group: every percentile is the value
        df = spark.createDataFrame(rows, "g string, v double")
        probs = [0.25, 0.5, 0.9]
        exact = {
            r["g"]: tuple(round(r[f"p{int(p*100)}"], 6) for p in probs)
            for r in agg_ops.percentiles(df, ["g"], "v", probs).collect()
        }
        dist = {
            r["g"]: tuple(round(r[f"p{int(p*100)}"], 6) for p in probs)
            for r in agg_ops.percentiles_distributed(
                df, ["g"], "v", probs, n_partitions=8
            ).collect()
        }
        assert exact == dist
        assert dist["solo"] == (42.0, 42.0, 42.0)
        # cross-check one value against a driver-side sort
        vals = sorted(v for g, v in rows if g == "a")
        # n=501 → (n-1)*0.5 = 250 exactly: median is the middle element
        assert round(vals[250], 6) == exact["a"][1]

    def test_percentiles_distributed_stable_across_reevaluations(self, spark):
        """Lazy result (localCheckpoint _pid pinning, no driver
        round-trip): two evaluations of the same returned frame must
        agree exactly."""
        rows = [("g%d" % (i % 3), float((i * 13) % 97)) for i in range(400)]
        df = spark.createDataFrame(rows, "g string, v double").repartition(6)
        out = agg_ops.percentiles_distributed(
            df, ["g"], "v", [0.5, 0.9], n_partitions=4
        )
        a = sorted(tuple(r) for r in out.collect())
        b = sorted(tuple(r) for r in out.collect())
        assert a == b and len(a) == 3

    def test_percentiles_ignore_nulls(self, spark):
        # SQL semantics: NULL values don't participate. Ranked first they'd
        # absorb the target ranks and return 0.0 instead of the median.
        df = spark.createDataFrame(
            [("a", None), ("a", None), ("a", 1.0), ("a", 2.0), ("a", 3.0)],
            "g string, v double",
        )
        for fn in (agg_ops.percentiles, agg_ops.percentiles_distributed):
            row = fn(df, ["g"], "v", [0.5]).first()
            assert row["p50"] == 2.0, fn.__name__

    def test_topk_and_setops(self, spark):
        df = spark.createDataFrame([(i,) for i in range(10)], "v int")
        top = agg_ops.top_k(df, [F.col("v").desc()], 3).collect()
        assert [r["v"] for r in top] == [9, 8, 7]
        other = spark.createDataFrame([(8,), (9,), (99,)], "v int")
        assert agg_ops.intersect(df, other).count() == 2
        assert agg_ops.except_rows(other, df, keep_duplicates=False).count() == 1

    def test_hll_sketch_rollup_close_to_exact(self, spark):
        from dataengineer_spark.operators import sketches

        df = spark.createDataFrame(
            [(g, b, i % 97) for g in ("x", "y") for b in (1, 2) for i in range(500)],
            "g string, b int, v int",
        )
        per_batch = sketches.hll_sketch(df, ["g", "b"], "v")
        merged = sketches.hll_merge(per_batch, ["g"])
        got = {r["g"]: r["n_distinct"] for r in merged.collect()}
        # exact distinct is 97 per group; HLL at lgK=12 is within ~2%
        assert all(abs(v - 97) / 97 < 0.05 for v in got.values()), got

    def test_cms_table_estimate_bounds_and_merge(self, spark):
        from dataengineer_spark.operators import sketches

        # skewed item frequencies: item i appears i+1 times
        df = spark.createDataFrame(
            [(f"w{i}",) for i in range(40) for _ in range(i + 1)], "w string"
        )
        cms = sketches.cms_table(df, "w", depth=5, width=1024)
        # sketch never exceeds depth*width rows and counts sum to depth*N
        assert cms.count() <= 5 * 1024
        n = df.count()
        total = cms.groupBy().sum("cnt").first()[0]
        assert total == 5 * n
        items = df.distinct()
        est = sketches.cms_estimate(cms, items, "w", depth=5, width=1024)
        got = {r["w"]: r["est"] for r in est.collect()}
        # CMS lower bound is exact-or-over, always; sparse sketch -> exact
        for i in range(40):
            assert got[f"w{i}"] >= i + 1
        # merge property: two disjoint-slice sketches summed over
        # (layer, bucket) equal the whole-input sketch exactly
        import pyspark.sql.functions as F

        even = df.where(F.length("w") % 2 == 0)
        odd = df.where(F.length("w") % 2 == 1)
        merged = (
            sketches.cms_table(even, "w", depth=5, width=1024)
            .unionByName(sketches.cms_table(odd, "w", depth=5, width=1024))
            .groupBy("layer", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
        full = {(r["layer"], r["bucket"]): r["cnt"] for r in cms.collect()}
        got_merged = {(r["layer"], r["bucket"]): r["cnt"] for r in merged.collect()}
        assert got_merged == full

    def test_grouping_sets(self, spark):
        df = spark.createDataFrame(
            [("a", "x", 1), ("a", "y", 2), ("b", "x", 3)], "g string, h string, v int"
        )
        out = agg_ops.grouping_sets_agg(
            df, [["g", "h"], ["g"], []], ["g", "h"], [F.sum("v").alias("s")]
        ).collect()
        got = {(r["g"], r["h"]): r["s"] for r in out}
        # 3 leaf rows + 2 per-g subtotals + 1 grand total, no per-h set
        assert len(got) == 6
        assert got[("a", None)] == 3 and got[(None, None)] == 6
        assert ("x",) not in {k[1:] for k in got if k[0] is None and k[1] is not None}


class TestWindows:
    def test_top_k_per_group(self, spark):
        df = spark.createDataFrame(
            [("a", 1), ("a", 3), ("a", 2), ("b", 5)], "g string, v int"
        )
        out = win_ops.top_k_per_group(df, ["g"], [F.col("v").desc()], 2)
        got = sorted((r["g"], r["v"]) for r in out.collect())
        assert got == [("a", 2), ("a", 3), ("b", 5)]

    def test_salted_topk_equals_plain(self, spark):
        df = spark.createDataFrame(
            [("hot" if i % 10 else "cold", i, float(i * 7 % 101)) for i in range(400)],
            "g string, i int, v double",
        )
        order = [F.col("v").desc(), F.col("i").asc()]
        plain = win_ops.top_k_per_group(df, ["g"], order, 5)
        salted = win_ops.top_k_per_group_salted(df, ["g"], order, 5, salt_on=["i"], buckets=8)
        a = sorted((r["g"], r["i"]) for r in plain.collect())
        b = sorted((r["g"], r["i"]) for r in salted.collect())
        assert a == b

    def test_lag_lead_and_running(self, spark):
        df = spark.createDataFrame(
            [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0)], "g string, i int, v double"
        )
        out = win_ops.lag_lead(df, ["g"], [F.col("i")], "v")
        rows = out.orderBy("i").collect()
        assert rows[1]["v_lag"] == 10.0 and rows[1]["v_lead"] == 30.0
        run = win_ops.running_agg(df, ["g"], [F.col("i")], F.sum("v"), "rt")
        assert [r["rt"] for r in run.orderBy("i").collect()] == [10.0, 30.0, 60.0]


class TestDedup:
    def test_content_dedup_keeps_min_id(self, spark):
        df = spark.createDataFrame(
            [(3, "same"), (1, "same"), (2, "other")], "doc_id long, text string"
        )
        ids = sorted(r["doc_id"] for r in dedup_ops.content_dedup(df, "text", "doc_id").collect())
        assert ids == [1, 2]

    def test_incremental_dedup_drops_seen_content(self, spark):
        seen = spark.createDataFrame(
            [(1, "known"), (2, "also known"), (3, None)], "doc_id long, text string"
        )
        new = spark.createDataFrame(
            [(10, "known"), (11, "fresh"), (12, None)], "doc_id long, text string"
        )
        out = sorted(
            r["doc_id"]
            for r in dedup_ops.incremental_dedup(new, seen.select("text"), "text").collect()
        )
        # 10 matches seen content; 12's null text matches seen null (both
        # fingerprint to sha2('')) — only genuinely fresh content survives
        assert out == [11]

    def test_minhash_detects_identical_and_distinct(self, spark):
        a = "the quick brown fox jumps over the lazy dog again and again"
        b = a  # identical → jaccard 1.0
        c = "completely different content with other words entirely here now"
        df = spark.createDataFrame(
            [(1, a), (2, b), (3, c)], "doc_id long, text string"
        )
        pairs = dedup_ops.minhash_lsh_pairs(
            df, "doc_id", "text", num_hashes=16, bands=4, threshold=0.9
        ).collect()
        assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
        assert pairs[0]["jaccard"] == 1.0

    def test_simhash_hamming(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
             (3, "zq xv wk yp mn")],
            "doc_id long, text string",
        )
        pairs = dedup_ops.simhash_neardup_pairs(df, "doc_id", "text", max_hamming=0)
        got = [(p["id_a"], p["id_b"], p["hamming"]) for p in pairs.collect()]
        assert got == [(1, 2, 0)]

    def test_ngram_jaccard_threshold(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w v")],
            "doc_id long, text string",
        )
        pairs = dedup_ops.ngram_jaccard_pairs(
            df, "doc_id", "text", n=2, threshold=0.9, bucket_col=F.lit(1)
        ).collect()
        assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]

    def test_bucket_quadratic_guard(self, spark):
        # 4 rows in one bucket = 6 in-bucket pairs; 1 lone row adds 0
        df = spark.createDataFrame(
            [(i, 1) for i in range(4)] + [(9, 2)], "doc_id long, bk int"
        )
        import pytest as _pytest

        # workload (6 pairs) over the limit → refuse, naming the scale path
        with _pytest.raises(ValueError, match="minhash_lsh_pairs"):
            dedup_ops.guard_bucket_quadratic(
                df, "bk", "minhash_lsh_pairs", limit=5
            )
        # at/under the limit and explicit opt-in both pass
        dedup_ops.guard_bucket_quadratic(df, "bk", "minhash_lsh_pairs", limit=6)
        dedup_ops.guard_bucket_quadratic(
            df, "bk", "minhash_lsh_pairs", allow_quadratic=True, limit=0
        )
        # empty input: zero workload, never refuses
        dedup_ops.guard_bucket_quadratic(
            df.where(F.lit(False)), "bk", "minhash_lsh_pairs", limit=0
        )
        # NULL buckets never pair in the guarded equi-join — the probe
        # must not price them as one giant bucket
        nulls = spark.createDataFrame(
            [(i, None) for i in range(10)], "doc_id long, bk int"
        )
        dedup_ops.guard_bucket_quadratic(
            nulls, "bk", "minhash_lsh_pairs", limit=0
        )


class TestMinhashBuildPy4jBudget:
    #: py4j calls to build ``minhash_lsh_pairs`` (~750 when the verify
    #: stage was built with the Column API; ~150 as SQL text)
    BUDGET = 200

    def test_build_stays_within_budget(self, spark, monkeypatch):
        import gc

        import py4j.clientserver as cs

        docs = spark.createDataFrame(
            [(i, f"document number {i % 7} about spark joins") for i in range(20)],
            "doc_id long, text string",
        )

        def build():
            return dedup_ops.minhash_lsh_pairs(
                docs, "doc_id", "text", num_hashes=32, bands=4, threshold=0.5
            )

        build()  # fan_out's partition probe is cached per plan
        calls = []
        send = cs.ClientServerConnection.send_command

        def counted(conn, command, *args, **kwargs):
            if not command.startswith("m\n"):  # skip GC'd-object releases
                calls.append(command)
            return send(conn, command, *args, **kwargs)

        monkeypatch.setattr(cs.ClientServerConnection, "send_command", counted)
        gc.collect()
        out = build()
        assert calls
        assert len(calls) <= self.BUDGET, len(calls)
        monkeypatch.undo()
        # identical copies pair at 1.0; near copies verify on exact Jaccard
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
        assert got[(0, 7)] == 1.0 and got[(1, 3)] == 13 / 18


class TestSimilarity:
    def test_cosine_matches_math(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [1.0, 1.0]), (3, [0.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        top = sim_ops.brute_force_top_k(df, [1.0, 0.0], k=3).collect()
        assert top[0]["vec_id"] == 1 and top[0]["cos_sim"] == 1.0
        assert abs(top[1]["cos_sim"] - 1 / math.sqrt(2)) < 1e-12
        assert top[2]["cos_sim"] == 0.0

    def test_lsh_recall_on_identical(self, spark):
        vecs = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        out = sim_ops.lsh_top_k(df, df, dim=8, n_planes=4, k=1)
        # identical vectors always share every bucket → self is top-1
        got = {r["query_id"]: r["corpus_id"] for r in out.collect()}
        assert got == {i: i for i in range(8)}

    def test_kmeans_finds_blob_means(self, spark):
        # assignment is max DOT product (spherical k-means — the cosine
        # geometry IVF/SemDeDup cells live in), so blobs must differ in
        # DIRECTION: ±e1 blobs split on the sign of the centroids' dim-1
        # difference, which holds for any distinct seeded pair
        blob_a = [[10.0 + d, 0.0, 0.0, 0.0] for d in (-0.5, 0.0, 0.5)]
        blob_b = [[-10.0 + d, 0.0, 0.0, 0.0] for d in (-0.5, 0.0, 0.5)]
        rows = [(i, v) for i, v in enumerate(blob_a + blob_b)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        pairs = sim_ops.kmeans_codebook(df, dim=4, n_centroids=2, iters=3)
        got = sorted(tuple(c) for _, c in pairs)
        assert got == [(-10.0, 0.0, 0.0, 0.0), (10.0, 0.0, 0.0, 0.0)]

    def test_kmeans_codebook_slots_into_semantic_dedup(self, spark):
        rows = [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [1.0, 0.001, 0.0, 0.0]),  # near-dup of 1
            (3, [0.0, 0.0, 0.0, 1.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        pairs = sim_ops.kmeans_codebook(df, dim=4, n_centroids=2, iters=2)
        out = {
            r["id"]: r
            for r in sim_ops.semantic_dedup(
                df, dim=4, threshold=0.999, codebook=[c for _, c in pairs]
            ).collect()
        }
        assert not out[1]["dropped"] and out[2]["dropped"] and out[2]["kept_by"] == 1
        assert not out[3]["dropped"]

    def test_embedding_neardup(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, 2.0, 3.0]), (2, [2.0, 4.0, 6.0]), (3, [-1.0, 5.0, 0.1])],
            "vec_id long, embedding array<double>",
        )
        pairs = sim_ops.embedding_neardup_pairs(df, threshold=0.999, dim=3).collect()
        assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]

    def test_brute_force_neardup_matches_lsh_superset(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, 2.0, 3.0]), (2, [2.0, 4.0, 6.0]), (3, [-1.0, 5.0, 0.1])],
            "vec_id long, embedding array<double>",
        )
        exact = sim_ops.brute_force_neardup_pairs(df, threshold=0.999).collect()
        assert [(p["id_a"], p["id_b"]) for p in exact] == [(1, 2)]
        assert abs(exact[0]["cos_sim"] - 1.0) < 1e-12

    def test_quadratic_baselines_guarded(self, spark, monkeypatch):
        # above the row limit the exact baselines must refuse to plan a
        # cartesian instead of silently shipping a BroadcastNestedLoop
        monkeypatch.setattr(sim_ops, "QUADRATIC_ROW_LIMIT", 2)
        df = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(4)],
            "vec_id long, embedding array<double>",
        )
        import pytest as _pytest

        with _pytest.raises(ValueError, match="O\\(n²\\) cartesian"):
            sim_ops.brute_force_neardup_pairs(df, threshold=0.5)
        with _pytest.raises(ValueError, match="lsh_top_k"):
            sim_ops.pairwise_top_k(df, df, k=1)
        # explicit opt-out still works
        sim_ops.brute_force_neardup_pairs(
            df, threshold=0.5, allow_quadratic=True
        ).collect()


class TestTextOps:
    def test_token_count(self, spark):
        df = spark.createDataFrame([("a b  c",), ("",), ("  ",)], "t string")
        out = [r["n"] for r in df.select(textops.token_count("t").alias("n")).collect()]
        assert out == [3, 0, 0]

    def test_language_id(self, spark):
        df = spark.createDataFrame(
            [
                ("the cat and the dog is here",),
                ("le chat est dans la maison",),
                ("der hund ist nicht da und",),
                ("你好世界",),
                ("zzz qqq",),
            ],
            "t string",
        )
        out = [r["l"] for r in df.select(textops.language_id("t").alias("l")).collect()]
        assert out == ["en", "fr", "de", "zh", "und"]

    def test_quality_score_range(self, spark):
        df = spark.createDataFrame(
            [("the data and the model is good " * 10,), ("!!!???",), ("",)], "t string"
        )
        scores = [
            r["q"] for r in df.select(textops.quality_score("t").alias("q")).collect()
        ]
        assert scores[0] == 1.0
        assert all(0.0 <= s <= 1.0 for s in scores)
        assert scores[1] < scores[0]

    def test_fingerprint_stability(self, spark):
        import re
        from functools import reduce

        from dataengineer_spark.operators.preparation import _POLY_MOD

        texts = [
            "Some  Text", "some text", "\tLeading and trailing \n",
            "TABS\tand\nnew\r\nlines\x0bhere", "a    b     c", "", None,
            "seven77", "eight888", "Ünïcödé  Café\tNAÏVE 🙂 中文",
        ]
        df = spark.createDataFrame(list(enumerate(texts)), "id int, t string")
        got = {
            r["id"]: r
            for r in df.select(
                "id",
                textops.doc_fingerprint("t").alias("fx"),
                textops.doc_fingerprint("t", portable=True).alias("fp"),
                textops.winnowed_fingerprints("t").alias("wx"),
                textops.winnowed_fingerprints("t", portable=True).alias("wp"),
            ).collect()
        }
        assert got[0]["fx"] == got[1]["fx"]  # normalization: case + whitespace
        assert got[0]["fp"] == got[1]["fp"]

        # Python-normalized references: Java regex \s, then lower, then
        # trim (spaces only); winnowing reads the RAW text's char 8-grams
        def norm(t):
            return re.sub("[ \t\n\x0b\f\r]+", " ", t).lower().strip(" ")

        def grams(t):
            return {t[i:i + 8] for i in range(max(len(t) - 7, 1))}

        def poly(t):
            return reduce(lambda acc, ch: (acc * 31 + ord(ch)) % _POLY_MOD, t, 0)

        strs = {norm(t) for t in texts if t is not None}
        strs |= {g for t in texts if t is not None for g in grams(t)}
        strs.add(None)
        xx = dict(
            spark.createDataFrame([(x,) for x in strs], "x string")
            .select("x", F.xxhash64("x"))
            .collect()
        )
        for i, t in enumerate(texts):
            if t is None:
                want = (xx[None], None, [xx[None]], [None])
            else:
                want = (
                    xx[norm(t)],
                    poly(norm(t)),
                    sorted(xx[g] for g in grams(t))[:4],
                    sorted(poly(g) for g in grams(t))[:4],
                )
            r = got[i]
            assert (r["fx"], r["fp"], r["wx"], r["wp"]) == want, (t, r, want)


class TestEvents:
    def test_sessionize_lag(self, spark):
        df = spark.createDataFrame(
            [
                (1, "2024-01-01 00:00:00"),
                (1, "2024-01-01 00:10:00"),
                (1, "2024-01-01 02:00:00"),
                (2, "2024-01-01 00:00:00"),
            ],
            "user_id long, ts_s string",
        ).select("user_id", F.to_timestamp("ts_s").alias("ts"))
        out = event_ops.sessionize_lag(df, "ts", 1800, ["user_id"])
        sessions = sorted(
            (r["user_id"], r["session_id"]) for r in out.collect()
        )
        assert sessions == [(1, 1), (1, 1), (1, 2), (2, 1)]

    def test_funnel_order_matters(self, spark):
        rows = [
            # u1 completes view->click in order; u2 clicked BEFORE viewing
            (1, "view", "2024-01-01 00:00:00"),
            (1, "click", "2024-01-01 00:05:00"),
            (2, "click", "2024-01-01 00:00:00"),
            (2, "view", "2024-01-01 00:05:00"),
        ]
        df = spark.createDataFrame(rows, "user_id long, event_type string, ts_s string")
        df = df.select("user_id", "event_type", F.to_timestamp("ts_s").alias("ts"))
        out = {
            r["event_type"]: r["n_users"]
            for r in event_ops.funnel_counts(
                df, "ts", "user_id", "event_type", ["view", "click"]
            ).collect()
        }
        assert out == {"view": 2, "click": 1}

    def test_tumbling_matches_native_session(self, spark, sf_dir):
        from dataengineer_spark.testdata import load_table

        ev = load_table(spark, sf_dir, "events")
        t = event_ops.tumbling(ev, "ts", "1 hour", [], [F.count("*").alias("n")])
        assert t.agg(F.sum("n")).first()[0] == ev.count()
        s = event_ops.sessionize_native(
            ev.limit(100), "ts", "30 minutes", ["user_id"], [F.count("*").alias("n")]
        )
        assert s.count() > 0


class TestIVF:
    def test_full_probe_equals_brute_force(self, spark):
        import random as _r

        rnd = _r.Random(3)
        vecs = [(i, [rnd.gauss(0, 1) for _ in range(8)]) for i in range(60)]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        q = df.where(F.col("vec_id") < 5)
        exact = sim_ops.pairwise_top_k(q, df, k=3)
        ivf = sim_ops.ivf_top_k(q, df, dim=8, k=3, n_centroids=4, n_probe=4)
        a = sorted((r["query_id"], r["corpus_id"]) for r in exact.collect())
        b = sorted((r["query_id"], r["corpus_id"]) for r in ivf.collect())
        assert a == b  # probing every cell ≡ exact search

    def test_partial_probe_self_recall(self, spark):
        import random as _r

        rnd = _r.Random(4)
        vecs = [(i, [rnd.gauss(0, 1) for _ in range(8)]) for i in range(60)]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        q = df.where(F.col("vec_id") < 10)
        ivf = sim_ops.ivf_top_k(q, df, dim=8, k=1, n_centroids=4, n_probe=1)
        # a vector's own cell is always its top probe → self is always found
        got = {r["query_id"]: r["corpus_id"] for r in ivf.collect()}
        assert got == {i: i for i in range(10)}


class TestPQ:
    def test_encode_picks_nearest_subcentroid(self, spark):
        # 2 subspaces of 2 dims, 2 centroids each: codes are readable by eye
        cb = [
            [[0.0, 0.0], [10.0, 10.0]],
            [[0.0, 5.0], [5.0, 0.0]],
        ]
        df = spark.createDataFrame(
            [(0, [9.0, 9.0, 0.1, 4.8]), (1, [1.0, -1.0, 4.0, 0.5])],
            "vec_id long, embedding array<double>",
        )
        got = {r["vec_id"]: r["pq_code"] for r in sim_ops.pq_encode(df, cb).collect()}
        assert got == {0: [1, 0], 1: [0, 1]}

    def test_adc_exact_when_quantization_error_is_zero(self, spark):
        # vectors that ARE centroid concatenations: ADC distance == true
        # squared L2 distance to the (also centroid-aligned) query
        cb = sim_ops.pq_codebook(8, m=2, ksub=4, seed=5)
        combos = [(4 * a + b, cb[0][a] + cb[1][b]) for a in range(4) for b in range(4)]
        df = spark.createDataFrame(combos, "vec_id long, embedding array<double>")
        qv = cb[0][2] + cb[1][1]
        top = sim_ops.pq_top_k(df, qv, cb, k=16).collect()
        got = {r["vec_id"]: r["approx_dist"] for r in top}
        import math

        for vid, vec in combos:
            true_sq = sum((x - y) ** 2 for x, y in zip(vec, qv))
            assert math.isclose(got[vid], true_sq, abs_tol=1e-9), (vid, got[vid], true_sq)
        # and the query's own cell combination is the (distance-0) top hit
        best = min(top, key=lambda r: (r["approx_dist"], r["vec_id"]))
        assert best["vec_id"] == 4 * 2 + 1 and abs(best["approx_dist"]) < 1e-12

    def test_precomputed_codes_path_matches_inline(self, spark):
        import random as _r

        rnd = _r.Random(9)
        vecs = [(i, [rnd.gauss(0, 1) for _ in range(8)]) for i in range(40)]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        cb = sim_ops.pq_codebook(8, m=2, ksub=4, seed=5)
        inline = sim_ops.pq_top_k(df, vecs[0][1], cb, k=5).collect()
        enc = sim_ops.pq_encode(df, cb, out="code")
        stored = sim_ops.pq_top_k(
            enc, vecs[0][1], cb, k=5, code_col="code"
        ).collect()
        assert [tuple(r) for r in inline] == [tuple(r) for r in stored]


class TestRandomProjection:
    def test_project_matches_numpy_and_py_twin(self, spark):
        import numpy as np

        mat = sim_ops.random_projection_matrix(16, 4, seed=17)
        import random as _r

        rnd = _r.Random(2)
        vecs = [(i, [rnd.gauss(0, 1) for _ in range(16)]) for i in range(20)]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        out = df.select(
            "vec_id", sim_ops.project("`embedding`", mat).alias("rv")
        )
        got = {r["vec_id"]: r["rv"] for r in out.collect()}
        m = np.array(mat)
        for vid, v in vecs:
            np.testing.assert_allclose(got[vid], m @ np.array(v), rtol=1e-12)
            # the driver-side twin is bit-identical to the Spark fold
            assert got[vid] == sim_ops.project_py(v, mat)

    def test_jl_preserves_pairwise_distances(self, spark):
        import numpy as np
        import random as _r

        rnd = _r.Random(6)
        vecs = [[rnd.gauss(0, 1) for _ in range(256)] for _ in range(30)]
        mat = sim_ops.random_projection_matrix(256, 64, seed=17)
        m = np.array(mat)
        red = [m @ np.array(v) for v in vecs]
        ratios = []
        for i in range(len(vecs)):
            for j in range(i + 1, len(vecs)):
                d0 = np.linalg.norm(np.array(vecs[i]) - np.array(vecs[j]))
                d1 = np.linalg.norm(red[i] - red[j])
                ratios.append(d1 / d0)
        # JL: 256->64 keeps pairwise distances within ~2/3 sigma = 1/sqrt(64)
        # ~ 12.5% st.dev; allow 3-sigma-ish slack for the 435 pairs
        assert 0.6 < min(ratios) and max(ratios) < 1.4, (min(ratios), max(ratios))
        import statistics

        assert abs(statistics.mean(ratios) - 1.0) < 0.05


class TestDataQuality:
    def test_null_constraint_counts_as_violation(self, spark):
        from dataengineer_spark.operators import quality

        df = spark.createDataFrame(
            [(1.0,), (-2.0,), (None,)], "v double"
        )
        out = {
            r["check_name"]: (r["violations"], r["total_rows"])
            for r in quality.constraint_report(
                df, {"v_positive": F.col("v") <= 0}
            ).collect()
        }
        # -2.0 violates; NULL is unevaluable → counted as violation
        assert out == {"v_positive": (2, 3)}

    def test_null_rates(self, spark):
        from dataengineer_spark.operators import quality

        df = spark.createDataFrame(
            [("a", None), (None, None)], "x string, y string"
        )
        out = {r["column_name"]: r["null_rate"] for r in
               quality.null_rates(df, ["x", "y"]).collect()}
        assert out == {"x": 0.5, "y": 1.0}

    def test_orphan_rows(self, spark):
        from dataengineer_spark.operators import quality

        child = spark.createDataFrame([(1, "a"), (9, "b")], "fk long, d string")
        parent = spark.createDataFrame([(1,), (2,)], "pk long")
        rows = quality.orphan_rows(child, parent, "fk", "pk").collect()
        assert [(r["fk"], r["d"]) for r in rows] == [(9, "b")]



class TestInferenceUdfPlumbing:
    """The real pandas_udf inference path (Arrow batches, struct output,
    per-executor cache) exercised via the fake: model scheme — swap the
    location for a model path and nothing else changes."""

    def test_classifier_udf_shape_and_determinism(self, spark):
        from dataengineer_spark.ml import transformer_classifier

        df = spark.createDataFrame(
            [(1, "hello world"), (2, None), (3, "hello world")],
            "id long, text string",
        )
        clf = transformer_classifier("fake:m", "fake:t", num_labels=16)
        rows = {
            r["id"]: (r["predicted_label"], r["model_score"])
            for r in df.select(
                "id", clf(F.col("text")).alias("p")
            ).select("id", "p.*").collect()
        }
        assert rows[1] == rows[3]  # deterministic
        assert rows[1][0].startswith("LABEL_")
        assert rows[2][0] == "LABEL_0"  # None → empty text
        assert all(0.0 <= v[1] <= 1.0 for v in rows.values())

    def test_qa_sectionizer_answers_all_questions_per_row(self, spark):
        from dataengineer_spark.ml import qa_sectionizer

        df = spark.createDataFrame(
            [(1, "the quick brown fox"), (2, "")], "id long, text string"
        )
        qa = qa_sectionizer(
            "fake:qa", "fake:t", {"first": "What comes after the?"}
        )
        rows = {
            r["id"]: r["first"]
            for r in df.select("id", qa(F.col("text")).alias("s"))
            .select("id", "s.*")
            .collect()
        }
        assert rows[1] == "quick"
        assert rows[2] is None  # empty text short-circuits

    def test_model_loads_once_per_worker_process(self, spark):
        # the per-executor cache contract, asserted THROUGH the real
        # executor path (VERDICT r8 item 4): the probe: scheme labels
        # every row with its process-wide construction count, so a cache
        # that re-loaded per batch/task/query would surface as LOAD_2+
        # in the collected output. Two actions over 8 partitions → many
        # (task, batch) combinations per reused worker, all LOAD_1.
        from dataengineer_spark.ml import transformer_classifier

        df = spark.range(64).selectExpr(
            "id", "repeat('t', CAST(id AS INT)) AS text"
        ).repartition(8)
        clf = transformer_classifier("probe:lifecycle", "fake:t")
        for _ in range(2):
            labels = {
                r["predicted_label"]
                for r in df.select(clf(F.col("text")).alias("p"))
                .select("p.*")
                .collect()
            }
            assert labels == {"LOAD_1"}

    def test_numpy_projection_standin_contract(self, spark):
        # the torch-free REAL-model stand-in: vectorized numpy compute
        # over actual Arrow batches through the unchanged
        # transformer_classifier plumbing — Torch_model.apply_model's
        # contract (reference dx_group.py:236-258): 2 fields, every row
        # (NULL inferred as "", never dropped), score in (0, 1],
        # deterministic across runs and independent of batching
        from dataengineer_spark.ml import transformer_classifier

        df = spark.createDataFrame(
            [(1, "adenocarcinoma of the prostate"), (2, "benign finding"),
             (3, None), (4, "adenocarcinoma of the prostate")],
            "id long, text string",
        )
        clf = transformer_classifier("numpy:7", "fake:t", num_labels=4)

        def run(frame):
            return {
                r["id"]: (r["predicted_label"], r["model_score"])
                for r in frame.select("id", clf(F.col("text")).alias("p"))
                .select("id", "p.*")
                .collect()
            }

        rows = run(df)
        assert len(rows) == 4
        for label, score in rows.values():
            assert label in {f"LABEL_{k}" for k in range(4)}
            assert 0.0 < score <= 1.0
        assert rows[1] == rows[4]  # deterministic
        # batching must not change predictions (batch-shaped softmax)
        assert run(df.repartition(4)) == rows

    def test_load_cache_returns_identical_object(self, spark):
        # driver-side probe of the same cache dict the executors use:
        # two loads of one location are the SAME object (load-once) —
        # the unconditionally-runnable form of the skip-marked real-model
        # cache test
        from dataengineer_spark.ml import inference

        a = inference._load_torch_model("numpy:3", "fake:t", 4)
        b = inference._load_torch_model("numpy:3", "fake:t", 4)
        assert a is b
        c = inference._load_torch_model("fake:m2", "fake:t", 4)
        assert c is inference._load_torch_model("fake:m2", "fake:t", 4)
        assert c is not a

    def test_real_model_path_raises_cleanly_without_deps(self, spark):
        from dataengineer_spark.ml import transformer_classifier

        df = spark.createDataFrame([(1, "x")], "id long, text string")
        clf = transformer_classifier("/no/such/model", "/no/such/tok")
        with pytest.raises(Exception, match="(?i)transformers|NotImplemented"):
            df.select(clf(F.col("text")).alias("p")).collect()


class TestRepetitionSignals:
    def test_signals(self, spark):
        df = spark.createDataFrame(
            [(1, "a b a b a b"), (2, "x\nx\ny z w"), (3, ""), (4, "one"), (5, None)],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in textops.repetition_signals(df).collect()}
        assert abs(out[1]["top_bigram_share"] - 0.6) < 1e-12  # 'a b' 3 of 5
        assert abs(out[2]["dup_line_frac"] - (1 - 2 / 3)) < 1e-12
        assert abs(out[2]["top_bigram_share"] - 0.25) < 1e-12
        for d in (3, 4, 5):  # empty / single-word / NULL → clean zeros
            assert out[d]["dup_line_frac"] == 0.0
            assert out[d]["top_bigram_share"] == 0.0


class TestConnectedComponents:
    def test_chain_merges_transitively(self, spark):
        # A~B, B~C, C~D: one component although A,D never pair directly
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
        )
        out = {r["node"]: r["cluster_id"]
               for r in dedup_ops.connected_components(pairs).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    def test_cluster_dedup_keeps_min_and_untouched(self, spark):
        docs = spark.createDataFrame(
            [(i,) for i in (1, 2, 3, 4, 5, 10, 11)], "doc_id long"
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
        )
        survivors = sorted(
            r["doc_id"]
            for r in dedup_ops.cluster_dedup(docs, pairs, "doc_id").collect()
        )
        # min of each component survives; 5 was never paired
        assert survivors == [1, 5, 10]

    def test_long_path_converges(self, spark):
        # a 20-node path needs ~log rounds of min propagation; well inside
        # max_iter, and the result must still be a single component
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(20)], "id_a long, id_b long"
        )
        out = dedup_ops.connected_components(pairs).collect()
        assert {r["cluster_id"] for r in out} == {0}
        assert len(out) == 21

    def test_null_endpoints_dropped_on_both_paths(self, spark):
        # a pair with a NULL id carries no identity to merge — both the
        # driver union-find and the distributed loop must ignore it
        # (pre-filter; without it the loop can't propagate THROUGH a
        # NULL node while a union-find would, and they'd diverge)
        pairs = spark.createDataFrame(
            [("a", "b"), (None, "b"), ("c", None), ("x", "y")],
            "id_a string, id_b string",
        )
        fast = {r["node"]: r["cluster_id"]
                for r in dedup_ops.connected_components(pairs).collect()}
        loop = {r["node"]: r["cluster_id"]
                for r in dedup_ops.connected_components(
                    pairs, driver_edge_limit=0).collect()}
        assert fast == loop == {"a": "a", "b": "a", "x": "x", "y": "x"}

    def test_driver_unionfind_matches_distributed_loop(self, spark):
        # the size-guarded driver union-find and the distributed
        # min-label loop must label identically — chain + clique +
        # isolated pair, string ids to pin the generic-schema path
        pairs = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("x", "y"), ("x", "z"), ("y", "z"),
             ("p", "q")],
            "id_a string, id_b string",
        )
        fast = {r["node"]: r["cluster_id"]
                for r in dedup_ops.connected_components(pairs).collect()}
        loop = {r["node"]: r["cluster_id"]
                for r in dedup_ops.connected_components(
                    pairs, driver_edge_limit=0).collect()}
        assert fast == loop
        assert fast["c"] == "a" and fast["z"] == "x" and fast["q"] == "p"

    def test_loop_nonconvergence_raises(self, spark):
        # a 12-node chain can't converge in 2 rounds: the distributed
        # loop must fail loudly instead of returning labels that depend
        # on which side of driver_edge_limit the edge count landed
        # (ADVICE r8 — the union-find path always fully converges)
        import pytest as _pytest

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(12)], "id_a long, id_b long"
        )
        with _pytest.raises(ValueError, match="did not converge"):
            dedup_ops.connected_components(
                pairs, driver_edge_limit=0, max_iter=2
            ).collect()
        # the same graph with enough rounds converges to one component
        out = dedup_ops.connected_components(
            pairs, driver_edge_limit=0, max_iter=15
        ).collect()
        assert {r["cluster_id"] for r in out} == {0}

    def test_loop_converging_exactly_at_max_iter_succeeds(self, spark):
        # a graph whose LAST label change lands in the final budgeted
        # round is converged — the verification round must accept it
        # instead of raising (review r9: detection needs rounds+1)
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2)], "id_a long, id_b long"
        )
        out = dedup_ops.connected_components(
            pairs, driver_edge_limit=0, max_iter=2
        ).collect()
        assert {r["cluster_id"] for r in out} == {0} and len(out) == 3

    def test_carry_lifetime_keeps_cache_through_wrappers(self, spark):
        # tie_lifetime's finalizer fires when the TIED frame is GC'd;
        # a derived wrapper holds no Python reference to it, so in-repo
        # wrap sites must carry the tie (review r9)
        import gc

        from dataengineer_spark.tuning import (
            carry_lifetime, tie_lifetime, transient_persist,
        )

        cached = transient_persist(spark.range(10))
        cached.count()
        out = tie_lifetime(cached.select("id"), cached)
        derived = carry_lifetime(out.selectExpr("id * 2 AS x"), out)
        del out
        gc.collect()
        # the wrapper still holds the tie: cache must be alive
        lvl = cached.storageLevel
        assert lvl.useMemory or lvl.useDisk
        del derived
        gc.collect()
        lvl = cached.storageLevel
        assert not (lvl.useMemory or lvl.useDisk)


class TestFanOut:
    def test_wide_repartition_fast_path(self, spark):
        from dataengineer_spark.tuning import fan_out

        target = spark.sparkContext.defaultParallelism
        wide = spark.range(1000).repartition(max(target, 64))
        # already fanned: respected as-is, no extra shuffle on top
        assert fan_out(wide) is wide

    def test_coalesce_above_wide_repartition_is_not_fanned(self, spark):
        # ADVICE r9: a coalesce ABOVE a wide round-robin leaves the frame
        # narrow — the fast path must not short-circuit on the buried
        # wide node; the probe sees 1 partition and re-fans
        from dataengineer_spark.tuning import fan_out

        target = spark.sparkContext.defaultParallelism
        narrow = spark.range(1000).repartition(max(target, 64)).coalesce(1)
        assert narrow.rdd.getNumPartitions() == 1
        out = fan_out(narrow)
        assert out is not narrow
        assert out.rdd.getNumPartitions() >= target

    def test_keyed_repartition_above_wide_falls_through(self, spark):
        # keyed repartition above the wide node: partition count is the
        # shuffle-partition conf, which may be under the target — must
        # fall through to the probe, not trust the buried wide node
        from dataengineer_spark.tuning import fan_out

        prior = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        try:
            target = spark.sparkContext.defaultParallelism
            df = (
                spark.range(1000)
                .repartition(max(target, 64))
                .repartition("id")
            )
            # AQE may pick its own post-shuffle count; the contract under
            # test is only that the buried wide node does NOT fast-path —
            # an under-target frame must come back re-fanned
            assert df.rdd.getNumPartitions() < target
            out = fan_out(df)
            assert out.rdd.getNumPartitions() >= target
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prior)

    def test_narrow_below_wide_keeps_fast_path(self, spark):
        # a coalesce BELOW the wide repartition (re-widened afterwards)
        # must still take the fast path — the top of the plan is wide
        from dataengineer_spark.tuning import fan_out

        target = spark.sparkContext.defaultParallelism
        wide = spark.range(1000).coalesce(1).repartition(max(target, 64))
        assert fan_out(wide) is wide


class TestCharShingleHashes:
    def test_matches_hashed_char_shingles(self, spark):
        # the positional SQL forms must produce the same hash SET as
        # hashing the materialized distinct shingles, for both families —
        # covers normal, shorter-than-n, empty, unicode, and NULL text
        df = spark.createDataFrame(
            [(1, "hello world"), (2, "abc"), (3, ""), (4, "héllo wörld"),
             (5, None), (6, "aaaaaaaa")],
            "doc_id long, text string",
        )
        from functools import reduce

        from pyspark.sql import functions as F
        from dataengineer_spark.operators.preparation import _POLY_MOD

        def poly(t):
            return reduce(lambda acc, ch: (acc * 31 + ord(ch)) % _POLY_MOD, t, 0)

        def portable_ref(t):
            if t is None:
                return [None]
            grams = {t[i:i + 5] for i in range(max(len(t) - 4, 1))}
            return sorted({poly(g) for g in grams})

        staged = df.select(
            "doc_id",
            "text",
            F.expr(
                "transform(split(`text`, ''), x -> CAST(ascii(x) AS BIGINT))"
            ).alias("_cps"),
        )
        for portable in (True, False):
            if portable:
                fast_sql = dedup_ops._shingle_hashes_from_cps_sql(
                    "`text`", "`_cps`", 5
                )
            else:
                fast_sql = dedup_ops._shingle_hashes_sql("`text`", 5)
            fast = staged.select(
                "doc_id", F.array_sort(F.expr(fast_sql)).alias("h")
            )
            f = {r["doc_id"]: r["h"] for r in fast.collect()}
            if portable:
                s = {i: portable_ref(t) for i, t in df.collect()}
            else:
                slow = df.select(
                    "doc_id",
                    F.array_sort(
                        F.transform(
                            dedup_ops.char_shingles(F.col("text"), 5),
                            lambda x: F.pmod(
                                F.xxhash64(x), F.lit(dedup_ops._MERSENNE)
                            ),
                        )
                    ).alias("h"),
                )
                s = {r["doc_id"]: r["h"] for r in slow.collect()}
            assert f == s, f"portable={portable}: {f} != {s}"

    def test_verify_shingle_set_matches_char_shingles(self, spark):
        # the verify stage hashes every window and dedups the hashes: the
        # same set as hashing the distinct shingle strings
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(1, "hello world"), (2, "abc"), (3, ""), (4, "héllo wörld"),
             (5, None), (6, "aaaaaaaa")],
            "doc_id long, text string",
        )
        fast = df.selectExpr(
            "doc_id", f"array_sort({dedup_ops._hashed_shingles_sql('`text`', 5)}) AS h"
        )
        slow = df.select(
            "doc_id",
            F.array_sort(
                F.transform(
                    dedup_ops.char_shingles(F.col("text"), 5), lambda x: F.xxhash64(x)
                )
            ).alias("h"),
        )
        assert sorted(fast.collect()) == sorted(slow.collect())

    def test_portable_hash_forms_agree(self, spark):
        # the word fold and the unrolled fixed-length fold under both of
        # its per-character reads (staged codepoint array, substr of a
        # lambda variable) must equal the pure-Python fold — including
        # empty, NULL, unicode, astral-plane, and the >8-char
        # periodic-mod path (25 chars overflows int64 unless reduced
        # every 8 steps)
        from functools import reduce

        from pyspark.sql import functions as F
        from dataengineer_spark.operators.preparation import (
            _POLY_MOD, _poly_hash_sql,
        )

        texts = ["hello", "", None, "héllo wörld", "a", "x" * 25,
                 "abcdefgh", "🙂é🙂é🙂é🙂é"]
        df = spark.createDataFrame(
            list(enumerate(texts)), "id long, s string"
        ).select(
            "id", "s",
            F.expr(
                "transform(split(`s`, ''), x -> CAST(ascii(x) AS BIGINT))"
            ).alias("_cps"),
        )

        def fixed(n):
            # a text of exactly n chars is its own single n-shingle
            cps = F.expr(
                dedup_ops._shingle_hashes_from_cps_sql("`s`", "`_cps`", n)
            )[0]
            sub = textops.winnowed_fingerprints(
                "s", n=n, keep=1, portable=True
            )[0]
            return F.when(F.length("s") == n, F.array(cps, sub))

        rows = df.select(
            "id",
            F.expr(_poly_hash_sql("`s`")).alias("fold"),
            F.coalesce(fixed(8), fixed(25)).alias("fixed"),
        ).collect()
        for r in rows:
            t = texts[r["id"]]
            want = None if t is None else reduce(
                lambda acc, ch: (acc * 31 + ord(ch)) % _POLY_MOD, t, 0
            )
            assert r["fold"] == want, (r, want)
            if t is not None and len(t) in (8, 25):
                assert r["fixed"] == [want, want], (r, want)
            else:
                assert r["fixed"] is None, r

    _EDGE_ROWS = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumped over the lazy dog"),
        (3, "ab"), (4, ""), (5, None), (6, "héllo wörld çæ"),
        (7, "x" * 300),
    ]

    def test_expr_signatures_match_python_reference(self, spark):
        # the PRODUCTION signature stage (staged shingle hashes, then the
        # array_min MinHash fold) against min((a·h + b) mod p) in Python,
        # both expression-engine families, over short/empty/unicode/
        # repetitive text; NULL text has no shingles, so no signature
        from functools import reduce

        from dataengineer_spark.operators.preparation import _POLY_MOD

        p = dedup_ops._MERSENNE
        df = spark.createDataFrame(self._EDGE_ROWS, "doc_id long, _t string")

        def poly(t):
            return reduce(lambda acc, ch: (acc * 31 + ord(ch)) % _POLY_MOD, t, 0)

        def portable_hashes(t):
            if len(t) < 5:
                return {poly(t)}
            return {poly(t[i:i + 5]) for i in range(len(t) - 4)}

        # xxhash64 family: the definitional char_shingles + xxhash64 set
        xx = {
            r["doc_id"]: set(r["h"])
            for r in df.select(
                "doc_id",
                F.transform(
                    dedup_ops.char_shingles(F.col("_t"), 5),
                    lambda x: F.pmod(F.xxhash64(x), F.lit(p)),
                ).alias("h"),
            ).collect()
        }
        params = dedup_ops._affine_params(32)

        def minhash(hashes):
            return [min((a * h + b) % p for h in hashes) for a, b in params]

        for family in ("portable", "xxhash64"):
            got = {
                r["doc_id"]: r["_sig"]
                for r in dedup_ops._expr_signatures(
                    df, "doc_id", "_t", 5, 32, family == "portable",
                    assume_fanned=True,
                ).collect()
            }
            want = {
                i: None if t is None else minhash(
                    portable_hashes(t) if family == "portable" else xx[i]
                )
                for i, t in self._EDGE_ROWS
            }
            assert got == want, family

    def test_sql_string_forms_match_column_builders(self, spark):
        # round-9: _family_bands builds its bands×rows struct array as
        # ONE parsed SQL string; pin it value-identical to the per-band
        # Column construction it replaced — both expression-engine band
        # key forms, over the production signatures of the edge frame.
        # The NULL-text doc (5) has a NULL signature and no band rows.
        from pyspark.sql import functions as F

        df = spark.createDataFrame(self._EDGE_ROWS, "doc_id long, _t string")
        for family in ("portable", "xxhash64"):
            portable = family == "portable"
            sig = dedup_ops._expr_signatures(
                df, "doc_id", "_t", 5, 32, portable, assume_fanned=True
            ).where(F.col("_sig").isNotNull())
            rows = 32 // 8
            def old_bucket(b):
                joined = F.concat_ws(
                    ",",
                    *[F.element_at("_sig", b * rows + r + 1)
                      for r in range(rows)],
                )
                return joined if portable else F.xxhash64(joined)

            old_b = sig.select(
                "doc_id",
                F.explode(F.array(*[
                    F.struct(F.lit(b).alias("band"),
                             old_bucket(b).alias("bucket"))
                    for b in range(8)
                ])).alias("_band"),
            ).select("doc_id", "_band.band", "_band.bucket")
            new_b = dedup_ops._family_bands(
                df, "doc_id", "_t", 5, 32, 8, family, assume_fanned=True
            )
            o = {(r["doc_id"], r["band"]): r["bucket"]
                 for r in old_b.collect()}
            n = {(r["doc_id"], r["band"]): r["bucket"]
                 for r in new_b.collect()}
            assert o == n, family
            assert {d for d, _ in n} == {1, 2, 3, 4, 6, 7}, family


class TestArrowTopK:
    def test_matches_native_fold(self, spark):
        import random

        rng = random.Random(3)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(300)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        qv = [rng.uniform(-1, 1) for _ in range(16)]
        native = [
            (r["vec_id"], round(r["cos_sim"], 9))
            for r in sim_ops.brute_force_top_k(df, qv, k=7).collect()
        ]
        arrow = [
            (r["vec_id"], round(r["cos_sim"], 9))
            for r in sim_ops.brute_force_top_k_arrow(df, qv, k=7).collect()
        ]
        assert native == arrow

    def test_zero_norm_rows_rank_last(self, spark):
        df = spark.createDataFrame(
            [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.5, 0.5])],
            "vec_id long, embedding array<double>",
        )
        out = sim_ops.brute_force_top_k_arrow(df, [1.0, 0.0], k=3).collect()
        assert [r["vec_id"] for r in out][:2] == [2, 3]
        import math
        assert out[2]["cos_sim"] is None or math.isnan(out[2]["cos_sim"])


class TestPqCodebooksFit:
    def test_fused_fit_identical_to_per_subspace_fits(self, spark):
        # the one-corpus-pass trainer must reproduce m independent sliced
        # kmeans fits bit-for-bit (exact-decimal means are independent
        # across subspaces — fusing changes the schedule, not the values)
        import random

        from dataengineer_spark.operators import similarity as sim_ops

        rng = random.Random(5)
        dim, m, dsub, ksub = 32, 4, 8, 4
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(120)
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        fused = sim_ops.pq_codebooks_fit(
            df, dim=dim, m=m, ksub=ksub, iters=2, seed=11
        )
        v = F.col("embedding").cast("array<double>")
        for j in range(m):
            sliced = df.select(
                F.slice(v, j * dsub + 1, dsub).alias("embedding")
            )
            solo = [
                c
                for _, c in sim_ops.kmeans_codebook(
                    sliced, dim=dsub, n_centroids=ksub, iters=2, seed=11 + j
                )
            ]
            assert fused[j] == solo

    def test_ivfpq_fused_fit_identical_to_coarse_plus_pq_fits(self, spark):
        # round-11: the single-pass coarse+PQ trainer must reproduce the
        # separate kmeans_codebook + pq_codebooks_fit pair bit-for-bit
        import random

        from dataengineer_spark.operators import similarity as sim_ops

        rng = random.Random(9)
        dim, m, ksub, ncoarse = 32, 4, 4, 6
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(150)
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        coarse_f, cbs_f = sim_ops.ivfpq_codebooks_fit(
            df, dim=dim, m=m, ksub=ksub, n_coarse=ncoarse, iters=2,
            coarse_seed=7, pq_seed=11,
        )
        coarse_solo = [
            c
            for _, c in sim_ops.kmeans_codebook(
                df, dim=dim, n_centroids=ncoarse, iters=2, seed=7
            )
        ]
        cbs_solo = sim_ops.pq_codebooks_fit(
            df, dim=dim, m=m, ksub=ksub, iters=2, seed=11
        )
        assert coarse_f == coarse_solo
        assert cbs_f == cbs_solo


class TestHardNegativeMining:
    def test_negatives_only_cross_label_and_hard_first(self, spark):
        from dataengineer_spark.operators import similarity as sim_ops

        rows = [
            (1, [1.0, 0.0, 0.0], "a"),   # anchor
            (2, [0.99, 0.1, 0.0], "a"),  # same label: never a negative
            (3, [0.98, 0.2, 0.0], "b"),  # hard negative
            (4, [0.0, 1.0, 0.0], "b"),   # easy negative
            (5, [0.9, 0.1, 0.1], None),  # NULL label: never a negative
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label string"
        )
        anchors = df.where(F.col("vec_id") == 1)
        # n_planes=0 would be degenerate; use 1 plane so everything may
        # share a bucket — mining quality, not recall, is under test
        out = sim_ops.hard_negative_mining(
            anchors, df, dim=3, n_planes=1, k=2
        ).collect()
        ids = [r["corpus_id"] for r in out]
        assert 2 not in ids and 5 not in ids
        assert ids[0] == 3  # hardest (most similar cross-label) first
        assert all(r["neg_label"] == "b" for r in out)

    def test_null_label_anchor_mines_nothing(self, spark):
        from dataengineer_spark.operators import similarity as sim_ops

        df = spark.createDataFrame(
            [(1, [1.0, 0.0], None), (2, [1.0, 0.1], "b")],
            "vec_id long, embedding array<double>, label string",
        )
        anchors = df.where(F.col("vec_id") == 1)
        assert (
            sim_ops.hard_negative_mining(
                anchors, df, dim=2, n_planes=1, k=5
            ).count()
            == 0
        )


class TestKnnClassify:
    def test_majority_vote_and_exclude_self(self, spark):
        from dataengineer_spark.operators import similarity as sim_ops

        rows = [
            (1, [1.0, 0.0], "a"),
            (2, [0.99, 0.05], "b"),
            (3, [0.98, 0.1], "b"),
            (4, [0.97, 0.15], "a"),
            (5, [0.5, 0.5], None),  # unlabeled: never votes
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label string"
        )
        anchors = df.where(F.col("vec_id") == 1)
        out = sim_ops.knn_classify(
            anchors, df, dim=2, n_planes=1, k=3, exclude_self=True
        ).collect()
        assert len(out) == 1
        # neighbors of 1 (self excluded): 2(b), 3(b), 4(a) -> 'b' by 2-1
        assert out[0]["predicted_label"] == "b" and out[0]["n_votes"] == 2
        # without exclude_self the anchor's own 'a' flips the vote to a tie
        # -> smaller label 'a' wins deterministically
        out2 = sim_ops.knn_classify(
            anchors, df, dim=2, n_planes=1, k=4
        ).collect()
        assert out2[0]["predicted_label"] == "a" and out2[0]["n_votes"] == 2


class TestStoredIvfPqIndex:
    def test_probe_partition_prunes_and_matches_inline(self, spark, tmp_path):
        # the lake-index contract: cell directories ARE the inverted
        # file — a probe must read only its n_probe partitions, and the
        # stored-code distances must equal the on-the-fly encode
        import random

        from dataengineer_spark.operators import similarity as sim_ops

        rng = random.Random(9)
        dim = 16
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(200)
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        coarse = sim_ops._centroids(dim, 4, seed=7)
        cb = sim_ops.pq_codebook(dim, m=4, ksub=4, seed=11)
        enc = sim_ops.pq_encode(df, cb, out="pq_code")
        idx = enc.select(
            "vec_id",
            sim_ops.nearest_cell(
                "CAST(`embedding` AS ARRAY<DOUBLE>)", coarse
            ).alias("cell"),
            "pq_code",
        )
        root = str(tmp_path / "index")
        idx.write.partitionBy("cell").parquet(root)
        qv = [rng.uniform(-1, 1) for _ in range(dim)]
        probe = sim_ops.probe_cells_py(qv, coarse, 2)
        cand = spark.read.parquet(root).where(F.col("cell").isin(probe))
        plan = (
            cand._jdf.queryExecution().executedPlan().toString()
        )
        assert "PartitionFilters" in plan and "cell" in plan
        stored = [
            (r["vec_id"], round(r["approx_dist"], 9))
            for r in sim_ops.pq_top_k(
                cand, qv, cb, k=5, code_col="pq_code"
            ).collect()
        ]
        inline_cand = idx.where(F.col("cell").isin(probe))
        inline = [
            (r["vec_id"], round(r["approx_dist"], 9))
            for r in sim_ops.pq_top_k(
                inline_cand, qv, cb, k=5, code_col="pq_code"
            ).collect()
        ]
        assert stored == inline


class TestAnnRecall:
    def test_lsh_and_ivf_recall_floor(self, spark):
        # quality harness: approximate paths must find most of the true
        # neighbors on a clustered corpus (recall is the contract an ANN
        # operator ships with, not just row shapes)
        import random

        rng = random.Random(11)
        dim, per, k = 16, 40, 5
        centers = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(5)]
        rows = []
        i = 0
        for c in centers:
            for _ in range(per):
                rows.append((i, [x + rng.gauss(0, 0.05) for x in c]))
                i += 1
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        queries = df.where(F.col("vec_id") % per == 0)  # one per cluster

        truth = {
            q: set()
            for q in [r["vec_id"] for r in queries.select("vec_id").collect()]
        }
        exact = sim_ops.pairwise_top_k(queries, df, k=k)
        for r in exact.collect():
            truth[r["query_id"]].add(r["corpus_id"])

        for fn, kwargs, floor in [
            (sim_ops.lsh_top_k, dict(dim=dim, n_planes=4), 0.6),
            (sim_ops.ivf_top_k, dict(dim=dim, n_centroids=8, n_probe=4), 0.6),
        ]:
            got = {q: set() for q in truth}
            for r in fn(queries, df, k=k, **kwargs).collect():
                got[r["query_id"]].add(r["corpus_id"])
            hits = sum(len(truth[q] & got[q]) for q in truth)
            total = sum(len(truth[q]) for q in truth)
            recall = hits / total
            assert recall >= floor, (fn.__name__, recall)


class TestLmPerplexity:
    def test_bigram_perplexity_matches_hand_model(self, spark):
        """Pin the smoothed bigram math on a corpus small enough to score
        by hand: P(w2|w1) = (c(w1,w2)+k)/(c(w1)+k·V)."""
        import math

        from dataengineer_spark.operators import lm as lm_ops

        rows = [
            (1, "a b a b"),
            (2, "a b"),
            (3, "b a"),
            (4, "c"),       # 1 token → no bigrams → omitted
            (5, "  "),      # empty after trim → omitted
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {
            r["doc_id"]: r
            for r in lm_ops.bigram_perplexity(df, k=0.5).collect()
        }
        assert set(out) == {1, 2, 3}
        # corpus: unigrams a=4 b=4 c=1 (V=3); bigrams ab=3 ba=2
        k, V = 0.5, 3.0
        p_ab = (3 + k) / (4 + k * V)
        p_ba = (2 + k) / (4 + k * V)
        ce1 = -(2 * math.log(p_ab) + math.log(p_ba)) / 3
        assert out[1]["n_bigrams"] == 3
        assert abs(out[1]["cross_entropy"] - round(ce1, 6)) < 1e-9
        assert abs(out[1]["ppl"] - round(math.exp(round(ce1, 6)), 6)) < 1e-9
        ce2 = -math.log(p_ab)
        assert abs(out[2]["cross_entropy"] - round(ce2, 6)) < 1e-9

    def test_separate_reference_corpus(self, spark):
        """Scoring against a foreign reference: unseen bigrams get the
        smoothed floor, unseen unigrams the k·V denominator."""
        import math

        from dataengineer_spark.operators import lm as lm_ops

        score = spark.createDataFrame([(1, "x y")], ["doc_id", "text"])
        ref = spark.createDataFrame([(9, "a b a")], ["doc_id", "text"])
        out = lm_ops.bigram_perplexity(score, k=1.0, ref=ref).collect()
        assert len(out) == 1
        # ref: V=2 (a,b); c(x)=0, c(x,y)=0 → P = 1/(0+1·2)
        want = -math.log(1.0 / 2.0)
        assert abs(out[0]["cross_entropy"] - round(want, 6)) < 1e-9


class TestSoftDedupWeights:
    def test_weights_inverse_of_copies(self, spark):
        from dataengineer_spark.operators import dedup as dedup_ops

        df = spark.createDataFrame(
            [(1, "same"), (2, "same"), (3, "same"), (4, "unique")],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r
            for r in dedup_ops.dup_weights(df, "text", "doc_id").collect()
        }
        assert len(out) == 4  # nothing dropped
        assert out[1]["n_copies"] == 3 and out[1]["weight"] == round(1 / 3, 6)
        assert out[4]["n_copies"] == 1 and out[4]["weight"] == 1.0
        # total weight = one unit of loss per distinct content
        assert abs(sum(r["weight"] for r in out.values()) - 2.0) < 1e-5


class TestCorrStats:
    def test_matches_numpy(self, spark):
        import numpy as np

        from dataengineer_spark.operators import aggregates as agg_ops

        rng = np.random.default_rng(7)
        xs = np.round(rng.uniform(1, 50, 200), 2)
        ys = np.round(3.0 * xs + rng.normal(0, 10, 200), 2)
        df = spark.createDataFrame(
            [(int(i % 2), float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))],
            ["g", "x", "y"],
        )
        out = {r["g"]: r for r in agg_ops.corr_stats(df, ["g"], "x", "y").collect()}
        for g in (0, 1):
            mask = np.arange(200) % 2 == g
            gx, gy = xs[mask], ys[mask]
            assert abs(out[g]["corr_xy"] - np.corrcoef(gx, gy)[0, 1]) < 1e-5
            assert abs(out[g]["covar_xy"] - np.cov(gx, gy, ddof=1)[0, 1]) < 1e-4
            assert abs(out[g]["stddev_x"] - np.std(gx, ddof=1)) < 1e-5
            assert abs(out[g]["stddev_y"] - np.std(gy, ddof=1)) < 1e-4


class TestAsofTolerance:
    def test_backward_tolerance_masks_stale_match(self, spark):
        left = spark.createDataFrame(
            [(1, 50, "near"), (1, 100, "far")], "k long, ts long, pl string"
        )
        right = spark.createDataFrame([(1, 40, 5.0)], "k long, ts long, rv double")
        out = {
            r["pl"]: r["rv"]
            for r in join_ops.asof_join(
                left, right, on="k", left_ts="ts", tolerance=30
            ).collect()
        }
        # gap 10 <= 30 keeps the match; gap 60 nulls it but keeps the row
        assert out == {"near": 5.0, "far": None}

    def test_forward_tolerance(self, spark):
        left = spark.createDataFrame([(1, 50, "p")], "k long, ts long, pl string")
        right = spark.createDataFrame([(1, 90, 2.0)], "k long, ts long, rv double")
        hit = join_ops.asof_join(
            left, right, on="k", left_ts="ts", direction="forward", tolerance=45
        ).first()
        assert hit["rv"] == 2.0
        miss = join_ops.asof_join(
            left, right, on="k", left_ts="ts", direction="forward", tolerance=30
        ).first()
        assert miss["rv"] is None


class TestSnapshotDiff:
    def test_added_removed_changed_and_null_safety(self, spark):
        from dataengineer_spark.operators.quality import snapshot_diff

        old = spark.createDataFrame(
            [(1, "a", 1.0), (2, None, 2.0), (3, "c", 3.0), (4, "d", 4.0)],
            "k long, s string, v double",
        )
        new = spark.createDataFrame(
            [(1, "a", 1.0), (2, None, 2.0), (3, "c", 9.0), (5, "e", 5.0)],
            "k long, s string, v double",
        )
        got = {r["k"]: r["change"] for r in snapshot_diff(old, new, ["k"]).collect()}
        # 1 unchanged (omitted); 2 unchanged with NULLs equal both sides;
        # 3 changed; 4 removed; 5 added
        assert got == {3: "changed", 4: "removed", 5: "added"}

    def test_null_to_value_is_changed(self, spark):
        from dataengineer_spark.operators.quality import snapshot_diff

        old = spark.createDataFrame([(1, None)], "k long, s string")
        new = spark.createDataFrame([(1, "x")], "k long, s string")
        rows = snapshot_diff(old, new, ["k"]).collect()
        assert [(r["k"], r["change"]) for r in rows] == [(1, "changed")]


class TestHistogram:
    def test_bins_underflow_overflow_and_nulls(self, spark):
        df = spark.createDataFrame(
            [(-5.0,), (0.0,), (9.9,), (10.0,), (25.0,), (100.0,), (None,)],
            "v double",
        )
        got = {
            r["bin"]: (r["bin_lo"], r["n"])
            for r in agg_ops.histogram(df, "v", 0.0, 100.0, 10).collect()
        }
        # -5 underflows; 0 and 9.9 in bin 0; 10 in bin 1; 25 in bin 2;
        # 100 == hi overflows into the explicit overflow bin; NULL dropped
        assert got == {
            -1: (-10.0, 1),
            0: (0.0, 2),
            1: (10.0, 1),
            2: (20.0, 1),
            10: (100.0, 1),
        }
        assert sum(n for _, n in got.values()) == 6


class TestWinsorize:
    def test_clips_to_exact_percentiles_per_group(self, spark):
        rows = [("a", float(v)) for v in range(1, 101)] + [("b", 5.0), ("b", 500.0)]
        df = spark.createDataFrame(rows, "g string, v double")
        out = agg_ops.winsorize(df, ["g"], "v", 0.10, 0.90, out="c")
        a_vals = sorted(r["c"] for r in out.where("g = 'a'").collect())
        # exact p10/p90 of 1..100 with linear interpolation: 10.9 / 90.1
        assert round(a_vals[0], 9) == 10.9 and round(a_vals[-1], 9) == 90.1
        assert len(a_vals) == 100
        # two-row group: p10..p90 interpolate between the two values
        b_vals = {round(r["c"], 2) for r in out.where("g = 'b'").collect()}
        assert b_vals == {54.5, 450.5}

    def test_keeps_rows_and_other_columns(self, spark):
        df = spark.createDataFrame(
            [("a", 1, 1.0), ("a", 2, 100.0)], "g string, id long, v double"
        )
        out = agg_ops.winsorize(df, ["g"], "v", 0.0, 1.0)
        assert out.count() == 2 and set(out.columns) == {"g", "id", "v"}

    def test_array_percentile_fold_matches_scalar_aggs(self, spark):
        # the round-9 buffer folds claim IDENTICAL values: the array form
        # of percentile / percentile_approx must equal N scalar aggs on
        # awkward data (ties, negatives, uneven groups)
        rows = [("g1", float(v * 7 % 13) - 3.0) for v in range(97)]
        rows += [("g2", float(v % 5) * 1e6) for v in range(23)]
        df = spark.createDataFrame(rows, "g string, v double")
        probs = [0.1, 0.5, 0.9]
        arr = df.groupBy("g").agg(
            F.percentile("v", F.array(*[F.lit(p) for p in probs])).alias("_p")
        )
        scal = df.groupBy("g").agg(
            *[F.percentile("v", F.lit(p)).alias(f"p{i}")
              for i, p in enumerate(probs)]
        )
        a = {r["g"]: list(r["_p"]) for r in arr.collect()}
        s = {r["g"]: [r["p0"], r["p1"], r["p2"]] for r in scal.collect()}
        assert a == s
        got = {
            (r["g"],): r
            for r in agg_ops.approx_percentiles(df, ["g"], "v", probs).collect()
        }
        sa = df.groupBy("g").agg(
            *[F.percentile_approx("v", F.lit(p), F.lit(10000)).alias(f"p{i}")
              for i, p in enumerate(probs)]
        )
        for r in sa.collect():
            g = got[(r["g"],)]
            assert [g[c] for c in g.asDict() if c != "g"] == [
                r["p0"], r["p1"], r["p2"]
            ]


class TestTrailingAnomalies:
    def test_flags_spike_and_cold_start(self, spark):
        # 10 flat points then a spike: the spike is the only anomaly and
        # the first min_history points emit NULL z (cold start)
        rows = [(1, t, 10.0 + (0.1 if t % 2 else -0.1)) for t in range(1, 11)]
        rows.append((1, 11, 100.0))
        df = spark.createDataFrame(rows, "k long, ts long, v double")
        out = {
            r["ts"]: (r["z_score"], r["is_anomaly"])
            for r in event_ops.trailing_anomalies(
                df, ["k"], "ts", "v", lookback=5, min_history=3
            ).collect()
        }
        assert out[11][1] is True and out[11][0] > 3
        assert all(not out[t][1] for t in range(1, 11))
        # first three points have < min_history trailing rows -> NULL z
        assert out[1][0] is None and out[2][0] is None and out[3][0] is None

    def test_point_never_scores_against_itself(self, spark):
        # frame ends at -1: a lone huge value after constants is anomalous
        # even though including it in its own window would dilute z
        rows = [(1, t, 5.0 + 0.01 * (-1) ** t) for t in range(1, 7)]
        rows.append((1, 7, 50.0))
        df = spark.createDataFrame(rows, "k long, ts long, v double")
        row = (
            event_ops.trailing_anomalies(df, ["k"], "ts", "v", lookback=10)
            .where("ts = 7")
            .first()
        )
        assert row["is_anomaly"] is True


class TestTableProfile:
    def test_one_scan_profile_with_nulls_and_strings(self, spark):
        from dataengineer_spark.operators.quality import table_profile

        df = spark.createDataFrame(
            [(1, 10.0, "x"), (2, None, "y"), (3, 30.0, "y"), (4, 40.0, None)],
            "k long, v double, s string",
        )
        got = {r["column"]: r for r in table_profile(df, ["k", "v", "s"]).collect()}
        assert got["k"]["n_rows"] == 4 and got["k"]["n_nulls"] == 0
        assert (got["k"]["min_val"], got["k"]["max_val"]) == (1.0, 4.0)
        assert got["k"]["n_distinct"] == 4 and got["k"]["ndv_est_ok"]
        assert got["v"]["n_nulls"] == 1
        assert (got["v"]["min_val"], got["v"]["max_val"]) == (10.0, 40.0)
        # string column: no numeric range, distincts still counted
        assert got["s"]["min_val"] is None and got["s"]["n_distinct"] == 2
        assert got["s"]["n_nulls"] == 1


class TestCohortRetention:
    def test_cells_count_distinct_cohort_members(self, spark):
        rows = [
            (1, "2024-01-01 08:00:00"), (1, "2024-01-03 09:00:00"),
            (2, "2024-01-02 10:00:00"),
            (3, "2024-01-01 11:00:00"), (3, "2024-01-01 12:00:00"),
        ]
        df = spark.createDataFrame(rows, "user_id long, ts string").select(
            "user_id", F.col("ts").cast("timestamp").alias("ts")
        )
        out = {
            (str(r["cohort_day"]), r["period_day"]): r["n_users"]
            for r in event_ops.cohort_retention(df, "user_id", "ts").collect()
        }
        # users 1 and 3 cohort on Jan-1; only user 1 returns on day 2
        assert out[("2024-01-01", 0)] == 2
        assert out[("2024-01-01", 2)] == 1
        assert out[("2024-01-02", 0)] == 1
        assert len(out) == 3


class TestResampleFfill:
    def test_gap_days_are_densified_and_filled(self, spark):
        rows = [
            (1, "2024-01-01 01:00:00", 10.0),
            (1, "2024-01-01 02:00:00", 20.0),
            (1, "2024-01-04 03:00:00", 30.0),
        ]
        df = spark.createDataFrame(rows, "user_id long, ts string, v double").select(
            "user_id", F.col("ts").cast("timestamp").alias("ts"), F.col("v")
        )
        out = {
            str(r["day"]): (r["day_avg"], r["filled"])
            for r in event_ops.resample_ffill(df, ["user_id"], "ts", "v").collect()
        }
        assert len(out) == 4  # Jan 1-4 densified
        assert out["2024-01-01"] == (15.0, 15.0)
        assert out["2024-01-02"] == (None, 15.0)  # gap day forward-filled
        assert out["2024-01-03"] == (None, 15.0)
        assert out["2024-01-04"] == (30.0, 30.0)


class TestTouchAttribution:
    def test_first_last_and_direct_buckets(self, spark):
        rows = [
            (1, 1, "purchase", 5.0),   # before any touch -> (direct)
            (1, 2, "click", 0.0),
            (1, 3, "view", 0.0),
            (1, 4, "purchase", 10.0),  # first=click, last=view
        ]
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, et string, v double"
        ).select(
            "user_id", "event_id",
            F.timestamp_seconds(F.col("event_id") * 60).alias("ts"),
            F.col("et"), F.col("v"),
        )
        out = {
            (r["model"], r["touch_type"]): (r["n_conversions"], r["total_value"])
            for r in event_ops.touch_attribution(
                df, "user_id", "ts", "et", "v",
                ["click", "view"], "purchase", tiebreakers=["event_id"],
            ).collect()
        }
        assert out[("first_touch", "(direct)")] == (1, 5.0)
        assert out[("first_touch", "click")] == (1, 10.0)
        assert out[("last_touch", "(direct)")] == (1, 5.0)
        assert out[("last_touch", "view")] == (1, 10.0)


class TestRocAuc:
    def test_perfect_separation(self, spark):
        rows = [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)]
        df = spark.createDataFrame(rows, "score double, y int")
        row = agg_ops.roc_auc(df, "score", F.col("y") == 1).first()
        assert row["auc"] == 1.0 and row["n_pos"] == 2 and row["n_neg"] == 2

    def test_ties_get_half_credit(self, spark):
        # pairs: (1.0>0.5)=1, (1.0>0.0)=1, (0.5==0.5)=0.5, (0.5>0.0)=1
        rows = [(1.0, 1), (0.5, 1), (0.5, 0), (0.0, 0)]
        df = spark.createDataFrame(rows, "score double, y int")
        row = agg_ops.roc_auc(df, "score", F.col("y") == 1).first()
        assert row["auc"] == 0.875


class TestPagerank:
    def test_symmetric_triangle_is_uniform(self, spark):
        from dataengineer_spark.operators import graph as graph_ops

        pairs = [(1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (3, 2)]
        edges = spark.createDataFrame(pairs, "src long, dst long")
        ranks = {
            r["node"]: r["rank"]
            for r in graph_ops.pagerank(edges, iterations=5).collect()
        }
        assert len(ranks) == 3
        # output ranks round to 8 digits
        assert all(abs(v - 1.0 / 3) < 1e-7 for v in ranks.values())
        assert abs(sum(ranks.values()) - 1.0) < 1e-6

    def test_star_center_dominates(self, spark):
        from dataengineer_spark.operators import graph as graph_ops

        leaves = [2, 3, 4, 5]
        pairs = [(1, leaf) for leaf in leaves] + [(leaf, 1) for leaf in leaves]
        edges = spark.createDataFrame(pairs, "src long, dst long")
        ranks = {
            r["node"]: r["rank"]
            for r in graph_ops.pagerank(edges, iterations=10).collect()
        }
        assert ranks[1] > max(ranks[leaf] for leaf in leaves) * 2
        assert abs(sum(ranks.values()) - 1.0) < 1e-6

    def test_source_only_node_keeps_rank(self, spark):
        # 1 -> 2 -> 3 chain: node 1 has no in-edges and must stay at the
        # teleport floor (1-d)/N every round, not vanish after round 1;
        # node 3 is sink-only (never a src) and must still be ranked.
        from dataengineer_spark.operators import graph as graph_ops

        edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
        ranks = {
            r["node"]: r["rank"]
            for r in graph_ops.pagerank(edges, iterations=3).collect()
        }
        assert set(ranks) == {1, 2, 3}
        base = (1.0 - 0.85) / 3
        assert abs(ranks[1] - base) < 1e-7
        # 2 receives only 1's floor rank; 3 receives 2's rank
        assert abs(ranks[2] - (base + 0.85 * base)) < 1e-7
        assert ranks[3] > ranks[2] > ranks[1]

    #: NULL endpoints, a duplicate edge, a self-loop, a sink-only node (4)
    #: and source-only nodes (5, 6)
    EDGE_CASES = [
        (1, 2), (1, 2), (2, 3), (3, 1), (3, 3), (2, 4), (None, 1), (5, None),
        (6, 1),
    ]
    #: ranks of EDGE_CASES as the DataFrame-API loop computed them, keyed
    #: by (dangling, iterations, checkpoint_every); both broadcast paths
    #: gave the same ranks
    EDGE_CASE_RANKS = {
        ("leak", 5, 2): [0.02142857, 0.09779372, 0.11465545, 0.12494059,
                         0.06678973, 0.02142857, 0.02142857],
        ("leak", 3, 8): [0.02142857, 0.10035714, 0.10673214, 0.16479018,
                         0.10407589, 0.02142857, 0.02142857],
        ("redistribute", 5, 2): [0.03356015, 0.1435393, 0.1615863, 0.1763749,
                                 0.09780223, 0.03356015, 0.03356015],
        ("redistribute", 3, 8): [0.03376525, 0.13436356, 0.14813734,
                                 0.19992879, 0.12781354, 0.03376525,
                                 0.03376525],
    }

    @pytest.mark.parametrize("limit", [1_000_000, 0], ids=["broadcast", "shuffle"])
    @pytest.mark.parametrize(
        "case", sorted(EDGE_CASE_RANKS), ids=lambda c: "-".join(map(str, c))
    )
    def test_edge_case_ranks_are_pinned(self, spark, case, limit):
        from dataengineer_spark.operators import graph as graph_ops

        dangling, iterations, checkpoint_every = case
        edges = spark.createDataFrame(self.EDGE_CASES, "src long, dst long")
        out = graph_ops.pagerank(
            edges, iterations=iterations, checkpoint_every=checkpoint_every,
            broadcast_node_limit=limit, dangling=dangling,
        )
        assert out.schema.simpleString() == "struct<node:bigint,rank:double>"
        ranks = dict(tuple(r) for r in out.collect())
        nodes = [None, 1, 2, 3, 4, 5, 6]
        assert ranks == dict(zip(nodes, self.EDGE_CASE_RANKS[case]))

    def test_rounds_run_one_broadcast_job_each(self, spark, job_group):
        from dataengineer_spark.operators import graph as graph_ops

        edges = spark.createDataFrame(
            [(a, b) for a in range(12) for b in range(12)
             if a != b and (a + b) % 3 != 0],
            "src long, dst long",
        )
        out = graph_ops.pagerank(edges, iterations=5)
        with job_group() as jobs:
            out.write.format("noop").mode("overwrite").save()
        # five rank-vector broadcasts and the final job
        assert len(jobs) <= 6, sorted(jobs)
        # the rounds read the stored edges and nodes where they lie: no
        # shuffle above the persisted scans, only the broadcasts
        def walk(node):
            cls = node.getClass().getSimpleName()
            yield node.nodeName()
            if cls == "InMemoryTableScanExec":
                return  # the stored frame's own plan ran before
            if cls == "AdaptiveSparkPlanExec":
                kids = [node.executedPlan()]
            elif "QueryStage" in cls:
                kids = [node.plan()]
            else:
                seq = node.children()
                kids = [seq.apply(i) for i in range(seq.size())]
            for kid in kids:
                yield from walk(kid)

        names = list(walk(out._jdf.queryExecution().executedPlan()))
        assert "BroadcastExchange" in names and "InMemoryTableScan" in names
        assert "Exchange" not in names, names

    @pytest.mark.parametrize(
        "dangling,checkpoint_every", [("leak", 8), ("leak", 2), ("redistribute", 8)]
    )
    def test_stores_and_views_freed_with_result(self, spark, dangling, checkpoint_every):
        import gc

        from pyspark import StorageLevel

        from dataengineer_spark.operators import graph as graph_ops

        sc = spark.sparkContext

        def state():
            views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
            return set(sc._jsc.getPersistentRDDs().keys()), views

        before = state()
        edges = spark.createDataFrame(self.EDGE_CASES, "src long, dst long")
        out = graph_ops.pagerank(
            edges, iterations=4, checkpoint_every=checkpoint_every,
            dangling=dangling,
        )
        assert len(out.collect()) == 7
        tied = [frame for frame, _ in out._graft_ties]
        assert state()[1] - before[1], "the stored frames are read as views"
        del out
        gc.collect()
        rdds, views = state()
        assert views == before[1]
        assert all(f.storageLevel == StorageLevel.NONE for f in tied)
        if dangling == "leak" and checkpoint_every >= 4:
            # one statement, no lineage cut: nothing is left for the JVM's
            # GC to reclaim (a cut's blocks go with the ContextCleaner)
            assert rdds <= before[0]


class TestFuzzyJoin:
    def test_blocked_pairs_verified_by_edit_distance(self, spark):
        rows = [
            (1, "b1", "hello world"),
            (2, "b1", "hello wurld"),   # dist 1 from doc 1
            (3, "b1", "completely different text"),
            (4, "b2", "hello world"),   # identical to 1 but other block
        ]
        df = spark.createDataFrame(rows, "doc_id long, blk string, text string")
        out = join_ops.fuzzy_join(
            df, df, "doc_id", "doc_id", "text", "text",
            block_on=[(F.col("blk"), F.col("blk"))], max_distance=3,
        ).collect()
        assert {(r["id_a"], r["id_b"], r["lev_dist"]) for r in out} == {(1, 2, 1)}

    def test_two_table_mode_keeps_all_id_orderings(self, spark):
        # different tables: ids are separate key spaces, so pairs where
        # left id >= right id (even equal ids) must NOT be dropped
        a = spark.createDataFrame(
            [(5, "b1", "hello world")], "doc_id long, blk string, text string"
        )
        b = spark.createDataFrame(
            [(5, "b1", "hello wurld"), (2, "b1", "hello world")],
            "doc_id long, blk string, text string",
        )
        out = join_ops.fuzzy_join(
            a, b, "doc_id", "doc_id", "text", "text",
            block_on=[(F.col("blk"), F.col("blk"))], max_distance=3,
            self_join=False,
        ).collect()
        assert {(r["id_a"], r["id_b"], r["lev_dist"]) for r in out} == {
            (5, 5, 1), (5, 2, 0)
        }

    def test_topk_caps_per_entity_with_deterministic_ties(self, spark):
        # doc 1 matches 2 (dist 1), 3 (dist 1), 4 (dist 2), 5 (dist 2):
        # k=2 keeps the two dist-1 matches, tie-broken by id_b ascending
        rows = [
            (1, "b1", "hello world"),
            (2, "b1", "hello wurld"),
            (3, "b1", "hello worlt"),
            (4, "b1", "hello wurlt"),
            (5, "b1", "hallo wurld"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, blk string, text string")
        out = join_ops.fuzzy_join_topk(
            df, df, "doc_id", "doc_id", "text", "text",
            block_on=[(F.col("blk"), F.col("blk"))], k=2, max_distance=2,
        ).collect()
        per_a = {}
        for r in out:
            per_a.setdefault(r["id_a"], []).append(
                (r["match_rank"], r["id_b"], r["lev_dist"])
            )
        assert all(len(v) <= 2 for v in per_a.values())
        assert sorted(per_a[1]) == [(1, 2, 1), (2, 3, 1)]
        # rank ordering must follow (lev_dist, id_b) within each entity
        for v in per_a.values():
            assert sorted(v) == sorted(v, key=lambda x: x[0])

    def test_topk_equals_unbounded_when_k_large(self, spark):
        rows = [
            (1, "b1", "aaaa"), (2, "b1", "aaab"), (3, "b1", "aabb"),
            (4, "b2", "cccc"), (5, "b2", "cccd"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, blk string, text string")
        blk = [(F.col("blk"), F.col("blk"))]
        full = {
            (r["id_a"], r["id_b"], r["lev_dist"])
            for r in join_ops.fuzzy_join(
                df, df, "doc_id", "doc_id", "text", "text",
                block_on=blk, max_distance=4,
            ).collect()
        }
        capped = {
            (r["id_a"], r["id_b"], r["lev_dist"])
            for r in join_ops.fuzzy_join_topk(
                df, df, "doc_id", "doc_id", "text", "text",
                block_on=blk, k=100, max_distance=4,
            ).collect()
        }
        assert capped == full and len(full) > 0


class TestPmiCollocations:
    def test_pmi_value_matches_hand_count(self, spark):
        from dataengineer_spark.operators import lm as lm_ops

        df = spark.createDataFrame([(1, "a b a b a b a b")], "doc_id long, text string")
        out = {
            (r["w1"], r["w2"]): (r["pair_n"], r["pmi"])
            for r in lm_ops.pmi_collocations(df, min_count=1).collect()
        }
        # c(a)=4 c(b)=4 c(a,b)=4 c(b,a)=3 N=7
        assert out[("a", "b")] == (4, round(math.log(4 * 7 / 16), 6))
        assert out[("b", "a")] == (3, round(math.log(3 * 7 / 16), 6))


class TestModelEvaluation:
    def test_confusion_counts(self, spark):
        rows = [("a", "a"), ("a", "b"), ("b", "b"), ("b", "b")]
        df = spark.createDataFrame(rows, "p string, t string")
        out = {
            (r["pred"], r["truth"]): r["n"]
            for r in agg_ops.confusion_matrix(df, "p", "t").collect()
        }
        assert out == {("a", "a"): 1, ("a", "b"): 1, ("b", "b"): 2}

    def test_kappa_textbook_case(self, spark):
        # 20 a/a, 5 a/b, 10 b/a, 15 b/b: po=0.7, pe=0.5, kappa=0.4
        rows = (
            [("a", "a")] * 20 + [("a", "b")] * 5
            + [("b", "a")] * 10 + [("b", "b")] * 15
        )
        df = spark.createDataFrame(rows, "p string, t string")
        r = agg_ops.cohens_kappa(df, "p", "t").first()
        assert (r["n"], r["po"], r["pe"], r["kappa"]) == (50, 0.7, 0.5, 0.4)

    def test_kappa_label_only_in_one_margin(self, spark):
        # 'c' is predicted but never true; its marginal product is 0
        rows = [("a", "a"), ("c", "a"), ("a", "a"), ("a", "b")]
        df = spark.createDataFrame(rows, "p string, t string")
        r = agg_ops.cohens_kappa(df, "p", "t").first()
        # po=2/4; pe=(3*3 + 0*1 + 1*0)/16 = 9/16
        assert r["po"] == 0.5 and r["pe"] == 0.5625
        assert r["kappa"] == round((0.5 - 0.5625) / (1 - 0.5625), 6)

    def test_calibration_bins_and_brier(self, spark):
        rows = [(0.05, 0), (0.15, 0), (0.85, 1), (0.95, 1), (1.0, 1)]
        df = spark.createDataFrame(rows, "p double, y int")
        out = {
            r["bin"]: (r["n"], r["mean_p"], r["frac_pos"], r["brier"])
            for r in agg_ops.calibration_report(
                df, "p", F.col("y") == 1, n_bins=10
            ).collect()
        }
        assert out[0] == (1, 0.05, 0.0, 0.0025)
        assert out[1] == (1, 0.15, 0.0, 0.0225)
        assert out[8] == (1, 0.85, 1.0, 0.0225)
        # p=1.0 clamps into the top bin with 0.95
        assert out[9] == (2, 0.975, 1.0, 0.0025)


class TestTriangleStats:
    def test_triangle_plus_tail(self, spark):
        from dataengineer_spark.operators import graph as graph_ops

        edges = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3), (3, 4)], "src long, dst long"
        )
        r = graph_ops.triangle_stats(edges).first()
        assert r["n_nodes"] == 4 and r["n_edges"] == 4
        assert r["n_wedges"] == 5 and r["n_triangles"] == 1
        assert r["clustering_coeff"] == 0.6

    def test_edge_iterator_counts_each_triangle_once(self, spark):
        # K4 minus edge (3,4): triangles {1,2,3} and {1,2,4} — each must
        # be counted exactly once, at its smallest edge (1,2), never
        # re-found at the other two edges (the r10 edge-iterator's
        # forward-adjacency invariant)
        from dataengineer_spark.operators import graph as graph_ops

        edges = spark.createDataFrame(
            [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (7, 8)],
            "src long, dst long",
        )
        r = graph_ops.triangle_stats(edges).first()
        assert r["n_nodes"] == 6 and r["n_edges"] == 6
        assert r["n_wedges"] == 8 and r["n_triangles"] == 2
        assert r["clustering_coeff"] == 0.75

    def test_triangle_free_and_empty(self, spark):
        from dataengineer_spark.operators import graph as graph_ops

        # path graph: wedges but zero triangles (the left-join empty-
        # adjacency leg: node 3 has no forward neighbours)
        path = spark.createDataFrame(
            [(1, 2), (2, 3)], "src long, dst long"
        )
        r = graph_ops.triangle_stats(path).first()
        assert r["n_wedges"] == 1 and r["n_triangles"] == 0
        # empty edge list must census 0 triangles, not NULL
        r = graph_ops.triangle_stats(path.where("src > 99")).first()
        assert r["n_triangles"] == 0 and r["n_edges"] == 0


class TestKeySkewReport:
    def test_ranks_shares_and_ties(self, spark):
        from dataengineer_spark.operators import quality

        rows = [(1,)] * 6 + [(2,)] * 3 + [(3,)] * 3 + [(4,)] * 0 + [(5,)] * 2
        df = spark.createDataFrame(rows, "k long")
        out = quality.key_skew_report(df, ["k"], top_n=3).collect()
        got = [(r["rank"], r["k"], r["n"], r["share"], r["cum_share"]) for r in out]
        # 14 rows total; tie between keys 2 and 3 breaks ascending
        assert got[0] == (1, 1, 6, round(6 / 14, 6), round(6 / 14, 6))
        assert got[1] == (2, 2, 3, round(3 / 14, 6), round(9 / 14, 6))
        assert got[2] == (3, 3, 3, round(3 / 14, 6), round(12 / 14, 6))


class TestPeriodOverPeriod:
    def test_calendar_shift_handles_gaps(self, spark):
        rows = [
            ("a", "2024-01-01 10:00:00", 10.0),
            ("a", "2024-01-08 10:00:00", 15.0),   # +50% vs Jan 1
            ("a", "2024-01-09 10:00:00", 20.0),   # no Jan 2 -> NULL
        ]
        df = spark.createDataFrame(rows, "k string, ts string, v double").select(
            "k", F.col("ts").cast("timestamp").alias("ts"), "v"
        )
        out = {
            str(r["day"]): (r["total"], r["prev_total"], r["pct_change"])
            for r in event_ops.period_over_period(df, ["k"], "ts", "v").collect()
        }
        assert out["2024-01-01"] == (10.0, None, None)
        assert out["2024-01-08"] == (15.0, 10.0, 0.5)
        assert out["2024-01-09"] == (20.0, None, None)


class TestLinkageScore:
    def test_weights_sum_per_agreement_pattern(self, spark):
        import math

        df = spark.createDataFrame(
            [(1, 2, True, False)], "id_a long, id_b long, f1 boolean, f2 boolean"
        )
        out = join_ops.linkage_score(
            df, [(F.col("f1"), 0.8, 0.1), (F.col("f2"), 0.9, 0.2)], threshold=1.0
        ).first()
        expected = math.log2(0.8 / 0.1) + math.log2(0.1 / 0.8)
        assert out["link_score"] == round(expected, 6)
        assert out["is_match"] == (round(expected, 6) >= 1.0)


class TestSetSimJoin:
    def test_exact_jaccard_with_prefix_filter(self, spark):
        rows = [
            (1, "a b c d e"),
            (2, "a b c d f"),   # jaccard 4/6 = 0.667 vs doc 1
            (3, "x y z w v"),   # disjoint
            (4, "a b"),         # size filter prunes vs 5-token docs
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup_ops.setsim_join(df, "text", "doc_id", 0.6).collect()
        }
        assert out == {(1, 2): round(4 / 6, 6)}

    def test_shingle_mode_matches_char_shingles(self, spark):
        rows = [(1, "abcdefgh"), (2, "abcdefgx"), (3, "zzzzzzzz")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = dedup_ops.setsim_join(
            df, "text", "doc_id", threshold=0.5, shingle_size=5
        ).collect()
        # docs 1/2: shingles of 'abcdefgh' vs 'abcdefgx' share 3 of 5
        # 5-grams (abcde, bcdef, cdefg); union 5 -> jaccard 0.6
        assert {(r["id_a"], r["id_b"], r["jaccard"]) for r in out} == {
            (1, 2, 0.6)
        }


class TestBfsDistances:
    def test_levels_and_visited_exclusion(self, spark):
        from dataengineer_spark.operators import graph as graph_ops

        # path 1-2-3-4-5 (symmetric) + shortcut 1-4: node 4 is dist 1,
        # node 5 is dist 2 (through the shortcut), node 3 is dist 2
        pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4)]
        edges = spark.createDataFrame(
            pairs + [(b, a) for a, b in pairs], "src long, dst long"
        )
        seeds = spark.createDataFrame([(1,)], "node long")
        out = {
            r["node"]: r["dist"]
            for r in graph_ops.bfs_distances(edges, seeds, max_depth=3).collect()
        }
        assert out == {1: 0, 2: 1, 4: 1, 3: 2, 5: 2}

    def test_depth_cap(self, spark):
        from dataengineer_spark.operators import graph as graph_ops

        pairs = [(1, 2), (2, 3), (3, 4)]
        edges = spark.createDataFrame(pairs, "src long, dst long")
        seeds = spark.createDataFrame([(1,)], "node long")
        out = {
            r["node"]: r["dist"]
            for r in graph_ops.bfs_distances(edges, seeds, max_depth=2).collect()
        }
        assert out == {1: 0, 2: 1, 3: 2}  # node 4 beyond the cap


class TestIvfPqTopK:
    def test_full_probe_equals_plain_pq(self, spark):
        # probing ALL coarse cells disables the IVF pruning, so the
        # composite must reduce exactly to the plain PQ ADC scan
        import random

        from dataengineer_spark.operators.similarity import (
            _centroids,
            ivf_pq_top_k,
            pq_codebook,
            pq_top_k,
        )

        rnd = random.Random(3)
        rows = [
            (i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(40)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        qv = [rnd.uniform(-1, 1) for _ in range(16)]
        coarse = _centroids(16, 4, seed=7)
        cb = pq_codebook(16, m=4, ksub=8, seed=11)
        full = ivf_pq_top_k(df, qv, coarse, cb, k=5, n_probe=4)
        plain = pq_top_k(df, qv, cb, k=5)
        assert [
            (r["vec_id"], round(r["approx_dist"], 9)) for r in full.collect()
        ] == [
            (r["vec_id"], round(r["approx_dist"], 9)) for r in plain.collect()
        ]

    def test_probe_cells_are_distinct_and_capped(self):
        from dataengineer_spark.operators.similarity import (
            _centroids,
            probe_cells_py,
        )

        cells = probe_cells_py([0.1] * 16, _centroids(16, 8, seed=7), 3)
        assert len(cells) == 3 and len(set(cells)) == 3


class TestDuplicationProfile:
    def test_histogram_and_shares(self, spark):
        from dataengineer_spark.operators.quality import duplication_profile

        rows = (
            [(i, "unique-%d" % i) for i in range(6)]
            + [(10 + i, "twice-a") for i in range(2)]
            + [(20 + i, "triple") for i in range(3)]
        )
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["cluster_size"]: r for r in duplication_profile(df, "text").collect()}
        assert out[1]["n_clusters"] == 6 and out[1]["n_docs"] == 6
        assert out[2]["n_clusters"] == 1 and out[2]["n_docs"] == 2
        assert out[3]["n_clusters"] == 1 and out[3]["n_docs"] == 3
        assert abs(out[3]["pct_docs"] - 3 / 11) < 1e-6
        assert abs(sum(r["pct_docs"] for r in out.values()) - 1.0) < 1e-5

    def test_null_text_forms_one_cluster(self, spark):
        from dataengineer_spark.operators.quality import duplication_profile

        df = spark.createDataFrame(
            [(1, None), (2, None), (3, "x")], "doc_id long, text string"
        )
        out = {r["cluster_size"]: r for r in duplication_profile(df, "text").collect()}
        assert out[2]["n_docs"] == 2  # both NULLs hash together


class TestSemanticDecontaminate:
    def test_flags_only_near_benchmark(self, spark):
        from dataengineer_spark.operators import similarity as sim_ops

        bench = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
        rows = [
            (1, [0.99, 0.01, 0.0]),   # ~bench[0]
            (2, [0.0, 0.0, 1.0]),     # orthogonal
            (3, [0.0, -5.0, 0.0]),    # anti-parallel to bench[1]
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {
            r["vec_id"]: (r["max_bench_sim"], r["contaminated"])
            for r in sim_ops.semantic_decontaminate(df, bench, threshold=0.9).collect()
        }
        assert out[1][1] is True and out[1][0] > 0.99
        assert out[2][1] is False and abs(out[2][0]) < 1e-9
        # max over bench: cos vs bench[0] is 0, vs bench[1] is -1 → 0
        assert out[3][1] is False and out[3][0] == 0.0

    def test_map_only_plan(self, spark):
        # the scale contract: literal benchmark, no join/exchange at all
        from dataengineer_spark.operators import similarity as sim_ops

        df = spark.createDataFrame(
            [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
        )
        plan = (
            sim_ops.semantic_decontaminate(df, [[0.5, 0.5]], threshold=0.5)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan and "Join" not in plan

    def test_arrow_twin_result_identical(self, spark):
        # the Arrow/BLAS layer is the bench path; the expression twin is
        # the oracled path — they must agree to the rounded contract
        import random

        from dataengineer_spark.operators import similarity as sim_ops

        rng = random.Random(17)
        dim = 16
        bench = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(8)]
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(250)
        ]
        rows.append((900, [0.0] * dim))  # zero-norm corpus row
        # a row nearly parallel to bench[0] so both sides of the
        # threshold flag are exercised
        rows.append((901, [x * 3.0 for x in bench[0]]))
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        native = {
            r["vec_id"]: (r["max_bench_sim"], r["contaminated"])
            for r in sim_ops.semantic_decontaminate(
                df, bench, threshold=0.4
            ).collect()
        }
        arrow = {
            r["vec_id"]: (r["max_bench_sim"], r["contaminated"])
            for r in sim_ops.semantic_decontaminate_arrow(
                df, bench, threshold=0.4
            ).collect()
        }
        assert native == arrow
        assert native[900] == (None, False)
        assert native[901][1] is True

    def test_arrow_twin_rounds_jvm_side(self, spark):
        # the round-6 contract must run through Spark's own round (one
        # BigDecimal code path for both twins), not a Python emulation —
        # pin that the plan contains the JVM round on max_bench_sim
        from dataengineer_spark.operators import similarity as sim_ops

        df = spark.createDataFrame(
            [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
        )
        out = sim_ops.semantic_decontaminate_arrow(
            df, [[0.5, 0.5]], threshold=0.9
        )
        plan = out._jdf.queryExecution().analyzed().toString()
        assert "round(max_bench_sim" in plan

    def test_arrow_twin_null_vector_and_empty_bench(self, spark):
        from dataengineer_spark.operators import similarity as sim_ops

        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, None)],
            "vec_id long, embedding array<double>",
        )
        out = {
            r["vec_id"]: (r["max_bench_sim"], r["contaminated"])
            for r in sim_ops.semantic_decontaminate_arrow(
                df, [[2.0, 0.0]], threshold=0.9
            ).collect()
        }
        assert out[1] == (1.0, True)
        assert out[2] == (None, False)
        # zero-direction benchmark set degrades like the expression twin
        out2 = sim_ops.semantic_decontaminate_arrow(
            df, [[0.0, 0.0]], threshold=0.9
        ).collect()
        assert all(
            r["max_bench_sim"] is None and r["contaminated"] is False
            for r in out2
        )


class TestIncrementalNeardup:
    def test_unknown_family_raises(self, spark):
        import pytest

        df = spark.createDataFrame([(1, "abcdef")], "doc_id long, text string")
        for family in ("expr", "XXHASH64"):
            with pytest.raises(ValueError, match="unknown near-dup hash family"):
                dedup_ops.signature_table(df, family=family)
            with pytest.raises(ValueError, match="unknown near-dup hash family"):
                dedup_ops.minhash_lsh_pairs(df, "doc_id", "text", family=family)

    def test_null_text_has_no_bands_in_any_family(self, spark):
        # NULL text has no shingles (the DuckDB replay's
        # ``_duck_shingles(NULL)`` is empty), so it gets no band rows: two
        # NULL docs are not a Jaccard-1.0 pair, an index row of a NULL doc
        # drops nothing, and a NULL doc is never dropped itself
        docs = spark.createDataFrame(
            [(1, None), (2, None), (3, "the quick brown fox jumps over"),
             (4, "")],
            "doc_id long, text string",
        )
        null_idx_doc = spark.createDataFrame(
            [(9, None)], "doc_id long, text string"
        )
        for family in dedup_ops.NEARDUP_FAMILIES:
            assert dedup_ops.minhash_lsh_pairs(
                docs, "doc_id", "text", threshold=0.5, family=family
            ).collect() == [], family
            bands = dedup_ops.signature_table(docs, bands=4, family=family)
            assert {r["doc_id"] for r in bands.collect()} == {3, 4}, family
            idx = dedup_ops.signature_table(null_idx_doc, family=family)
            assert idx.count() == 0, family
            kept = dedup_ops.incremental_neardup(docs, idx, family=family)
            assert sorted(r["doc_id"] for r in kept.collect()) == [
                1, 2, 3, 4
            ], family
        # the recall audit's ground truth agrees: NULL docs pair with
        # nothing, so the planted (3, 5) pair is the only true pair
        rec = dedup_ops.neardup_recall(
            docs.union(spark.createDataFrame(
                [(5, "the quick brown fox jumps over")],
                "doc_id long, text string",
            )),
            "doc_id", "text", threshold=0.5, family="portable",
            allow_quadratic=True,
        ).collect()[0]
        assert (rec["n_true"], rec["n_found"]) == (1, 1)

    def test_recrawl_dropped_fresh_kept(self, spark):
        texts = {
            1: "the quick brown fox jumps over the lazy dog again and again",
            2: "completely different content about spark physical planning",
        }
        seen = spark.createDataFrame(
            [(i, t) for i, t in texts.items()], "doc_id long, text string"
        )
        idx = dedup_ops.signature_table(seen, bands=4, family="portable")
        new = spark.createDataFrame(
            [
                (10, texts[1]),                       # exact re-crawl
                (11, texts[1].replace("dog", "cat")), # near-dup
                (12, "entirely novel text that shares nothing at all here"),
            ],
            "doc_id long, text string",
        )
        kept = {
            r["doc_id"]
            for r in dedup_ops.incremental_neardup(
                new, idx, bands=4, family="portable"
            ).collect()
        }
        assert 10 not in kept          # identical signature always collides
        assert 12 in kept              # novel survives
        # index rows are 24-byte (id, band, bucket) triples
        assert set(idx.columns) == {"doc_id", "band", "bucket"}
        assert idx.count() == 2 * 4

    def test_arrow_engine_recrawl_dropped_fresh_kept(self, spark):
        # the bench/deploy engine: vectorized Arrow signatures feeding the
        # same band probe — identical contract on the canonical scenario
        texts = {
            1: "the quick brown fox jumps over the lazy dog again and again",
            2: "completely different content about spark physical planning",
        }
        seen = spark.createDataFrame(
            [(i, t) for i, t in texts.items()], "doc_id long, text string"
        )
        idx = dedup_ops.signature_table(seen, bands=4, family="arrow")
        new = spark.createDataFrame(
            [
                (10, texts[1]),  # exact re-crawl: identical signature
                (12, "entirely novel text that shares nothing at all here"),
            ],
            "doc_id long, text string",
        )
        kept = {
            r["doc_id"]
            for r in dedup_ops.incremental_neardup(
                new, idx, bands=4, family="arrow"
            ).collect()
        }
        assert 10 not in kept and 12 in kept

    def test_cross_family_probe_raises(self, spark, tmp_path):
        # an index built with the arrow family must refuse a probe from
        # the xxhash64 family (cross-family buckets never match → silent
        # dup passthrough); the family stamp survives the parquet round
        # trip
        import pytest

        seen = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        )
        idx = dedup_ops.signature_table(seen, bands=4, family="arrow")
        path = str(tmp_path / "idx")
        idx.write.parquet(path)
        stored = spark.read.parquet(path)
        new = spark.createDataFrame(
            [(2, "some new text")], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="signature family"):
            dedup_ops.incremental_neardup(
                new, stored, bands=4, family="xxhash64"
            )
        # matching family probes fine through the same stored index
        assert (
            dedup_ops.incremental_neardup(
                new, stored, bands=4, family="arrow"
            ).count()
            == 1
        )

    def test_min_bands_requires_same_seen_doc(self, spark):
        # two seen docs each colliding in ONE band with the new doc must
        # not satisfy min_bands=2 (agreement is per-pair)
        seen_idx = spark.createDataFrame(
            [(1, 0, "x"), (2, 1, "y")], "doc_id long, band int, bucket string"
        )
        new = spark.createDataFrame(
            [(10, "abcdefghij")], "doc_id long, text string"
        )
        import dataengineer_spark.operators.dedup as dd
        from pyspark.sql import functions as F

        new_bands = dd.signature_table(new, bands=4, family="portable")
        buckets = {r["band"]: r["bucket"] for r in new_bands.collect()}
        # craft the seen index to collide in bands 0 and 1 via two docs
        seen_idx = spark.createDataFrame(
            [(1, 0, buckets[0]), (2, 1, buckets[1])],
            "doc_id long, band int, bucket string",
        )
        kept = dd.incremental_neardup(
            new, seen_idx, bands=4, min_bands=2, family="portable"
        )
        assert kept.count() == 1  # split across seen docs → NOT flagged
        seen_same = spark.createDataFrame(
            [(1, 0, buckets[0]), (1, 1, buckets[1])],
            "doc_id long, band int, bucket string",
        )
        kept2 = dd.incremental_neardup(
            new, seen_same, bands=4, min_bands=2, family="portable"
        )
        assert kept2.count() == 0  # same seen doc in 2 bands → flagged


class TestContentDedupBy:
    def test_priority_wins_then_id_breaks_ties(self, spark):
        rows = [
            (1, "same text", 5),
            (2, "same text", 9),   # higher priority → survivor
            (3, "same text", 9),   # tie with 2 → loses on id
            (4, "other", 1),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, q long")
        kept = {
            r["doc_id"]
            for r in dedup_ops.content_dedup_by(
                df, "text", "doc_id", F.col("q")
            ).collect()
        }
        assert kept == {2, 4}

    def test_null_text_clusters_together(self, spark):
        df = spark.createDataFrame(
            [(1, None, 1), (2, None, 7)], "doc_id long, text string, q long"
        )
        kept = dedup_ops.content_dedup_by(df, "text", "doc_id", F.col("q")).collect()
        assert [r["doc_id"] for r in kept] == [2]


class TestAbTest:
    def test_rates_and_z_sign(self, spark):
        rows = (
            [("a", True)] * 30 + [("a", False)] * 70
            + [("b", True)] * 50 + [("b", False)] * 50
        )
        df = spark.createDataFrame(rows, "variant string, ok boolean")
        out = agg_ops.ab_test_report(df, "variant", F.col("ok")).collect()
        assert len(out) == 1
        r = out[0]
        assert (r["variant_a"], r["variant_b"]) == ("a", "b")
        assert r["rate_a"] == 0.3 and r["rate_b"] == 0.5
        assert r["z"] < -2.5  # b converts better, well past 95% signif

    def test_degenerate_pool_yields_null_z(self, spark):
        # all successes in both variants → pooled variance 0 → z NULL
        df = spark.createDataFrame(
            [("a", True), ("b", True)], "variant string, ok boolean"
        )
        r = agg_ops.ab_test_report(df, "variant", F.col("ok")).first()
        assert r["z"] is None and r["rate_a"] == 1.0


class TestReviewedEdgeCases:
    def test_period_over_period_zero_prior_yields_null(self, spark):
        from dataengineer_spark.operators import events as event_ops

        rows = [
            (1, "2024-01-01 10:00:00", "k", 0.0),
            (2, "2024-01-08 10:00:00", "k", 5.0),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts string, key string, value double"
        ).selectExpr("cast(ts as timestamp) ts", "key", "value")
        out = {
            str(r["day"]): r["pct_change"]
            for r in event_ops.period_over_period(
                df, ["key"], "ts", "value", period_days=7
            ).collect()
        }
        # ANSI mode on: unguarded division would DIVIDE_BY_ZERO here
        assert out["2024-01-08"] is None

    def test_pagerank_empty_edges_returns_empty(self, spark):
        from dataengineer_spark.operators import graph as graph_ops

        empty = spark.createDataFrame([], "src long, dst long")
        assert graph_ops.pagerank(empty).count() == 0

    def test_pagerank_broadcast_guard_paths_agree(self, spark):
        # the exact-count broadcast guard changes only the physical join
        # side assignment: ranks must be bit-identical whether the rank
        # vector broadcasts (small graphs) or shuffle-joins against the
        # pre-partitioned edges (the production path past the limit)
        from dataengineer_spark.operators import graph as graph_ops

        edges = spark.createDataFrame(
            [(a, b) for a in range(12) for b in range(12)
             if a != b and (a + b) % 3 != 0],
            "src long, dst long",
        )
        small = {
            r["node"]: r["rank"]
            for r in graph_ops.pagerank(edges, iterations=4).collect()
        }
        big_path = {
            r["node"]: r["rank"]
            for r in graph_ops.pagerank(
                edges, iterations=4, broadcast_node_limit=0
            ).collect()
        }
        assert small == big_path and len(small) == 12

    def test_funnel_empty_steps_raises(self, spark):
        import pytest

        from dataengineer_spark.operators import events as event_ops

        df = spark.createDataFrame(
            [(1, "2024-01-01 00:00:00", 1, "a")],
            "event_id long, ts string, user_id long, event_type string",
        )
        with pytest.raises(ValueError, match="non-empty"):
            event_ops.funnel_counts(df, "ts", "user_id", "event_type", [])

    def test_pagerank_dangling_redistribute_conserves_mass(self, spark):
        """VERDICT r10 item 4: with dangling='redistribute' the rank
        vector stays a probability distribution (Σ rank ≈ 1 up to
        rounding), while the default 'leak' form drains sink mass —
        on a star graph 0→{1,2,3} every leaf is a sink."""
        from dataengineer_spark.operators import graph as graph_ops

        edges = spark.createDataFrame(
            [(0, 1), (0, 2), (0, 3)], "src long, dst long"
        )
        leak = sum(
            r["rank"] for r in graph_ops.pagerank(edges, iterations=4).collect()
        )
        redis = sum(
            r["rank"]
            for r in graph_ops.pagerank(
                edges, iterations=4, dangling="redistribute"
            ).collect()
        )
        assert abs(redis - 1.0) < 1e-6
        assert leak < 0.75  # 3 of 4 nodes leak their mass each round

    def test_pagerank_dangling_rejects_unknown_mode(self, spark):
        import pytest

        from dataengineer_spark.operators import graph as graph_ops

        edges = spark.createDataFrame([(0, 1)], "src long, dst long")
        with pytest.raises(ValueError, match="dangling"):
            graph_ops.pagerank(edges, dangling="drop")

    def test_pagerank_no_sinks_redistribute_equals_leak(self, spark):
        # on a sink-free (symmetrized) graph the leak is exactly 0 every
        # round, so both modes must produce bit-identical ranks
        from dataengineer_spark.operators import graph as graph_ops

        edges = spark.createDataFrame(
            [(a, b) for a in range(6) for b in range(6) if a != b],
            "src long, dst long",
        )
        base = {
            r["node"]: r["rank"]
            for r in graph_ops.pagerank(edges, iterations=3).collect()
        }
        redis = {
            r["node"]: r["rank"]
            for r in graph_ops.pagerank(
                edges, iterations=3, dangling="redistribute"
            ).collect()
        }
        assert base == redis

    def test_graph_width_probe_is_metadata_only(self, spark, sf_dir):
        """VERDICT r10 item 5: the pre-partition width comes from session
        confs + lake file metadata — same widths as before on the bench
        fixtures, no plan-build job.  A lake-read frame reports its file
        count; a derived in-memory frame reports 0 and falls back to the
        session width."""
        from dataengineer_spark.operators.graph import _lake_width, _session_width
        from dataengineer_spark.testdata import load_table

        li = load_table(spark, sf_dir, "lineitem")
        assert _lake_width(li) == len(li.inputFiles()) > 0
        derived = spark.range(10).join(spark.range(10), "id")
        assert _lake_width(derived.groupBy("id").count()) == 0
        sw = _session_width(spark)
        assert sw == max(
            spark.sparkContext.defaultParallelism,
            int(spark.conf.get("spark.sql.shuffle.partitions")),
        )
        # non-numeric conf must not crash plan build (ADVICE r10) —
        # vanilla Spark validates the conf at set time, so the
        # Databricks-style 'auto' value is stubbed
        class _Conf:
            def get(self, key, default=None):
                return "auto"

        class _SC:
            defaultParallelism = 7

        class _Spark:
            conf = _Conf()
            sparkContext = _SC()

        assert _session_width(_Spark()) == 7


class TestThirdReviewEdgeCases:
    def test_band_buckets_reject_non_divisible(self, spark):
        import pytest

        df = spark.createDataFrame([(1, "abcdef")], "doc_id long, text string")
        with pytest.raises(ValueError, match="must divide"):
            dedup_ops.minhash_lsh_pairs(
                df, "doc_id", "text", num_hashes=32, bands=5
            ).collect()

    def test_incremental_dedup_consumes_stored_fingerprints(self, spark):
        df = spark.createDataFrame(
            [(1, "aaa"), (2, "bbb")], "doc_id long, text string"
        )
        fp = dedup_ops.content_fingerprint(df, "text")
        new = spark.createDataFrame(
            [(10, "aaa"), (11, "new stuff")], "doc_id long, text string"
        )
        kept = dedup_ops.incremental_dedup(
            new, fp, "text", seen_fingerprint_col="fingerprint"
        ).collect()
        assert [r["doc_id"] for r in kept] == [11]

    def test_arrow_topk_keeps_degenerate_rows_and_string_ids(self, spark):
        from dataengineer_spark.operators import similarity as sim_ops

        rows = [("a", [1.0, 0.0]), ("b", [0.0, 0.0]), ("c", [0.5, 0.5])]
        df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
        out = sim_ops.brute_force_top_k_arrow(
            df, [1.0, 0.0], k=10
        ).collect()
        # parity with the expression twin: zero-norm row kept, NULL last
        assert [r["vec_id"] for r in out] == ["a", "c", "b"]
        assert out[-1]["cos_sim"] is None

    def test_semantic_decontaminate_zero_bench_vectors(self, spark):
        from dataengineer_spark.operators import similarity as sim_ops

        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<double>"
        )
        # zero benchmark vector skipped, not ZeroDivisionError; zero-norm
        # corpus row flagged False, not NULL
        out = {
            r["vec_id"]: r["contaminated"]
            for r in sim_ops.semantic_decontaminate(
                df, [[0.0, 0.0], [1.0, 0.0]], threshold=0.9
            ).collect()
        }
        assert out == {1: True, 2: False}
        # ALL-zero benchmark: nothing can be contaminated
        out2 = sim_ops.semantic_decontaminate(df, [[0.0, 0.0]], threshold=0.9)
        assert [r["contaminated"] for r in out2.collect()] == [False, False]


class TestFourthReviewEdgeCases:
    def test_winsorize_preserves_nulls_and_null_keys(self, spark):
        rows = [("a", float(v)) for v in range(1, 21)] + [
            ("a", None), (None, 5.0),
        ]
        df = spark.createDataFrame(rows, "k string, v double")
        out = agg_ops.winsorize(df, ["k"], "v", p_lo=0.05, p_hi=0.95)
        got = out.collect()
        assert len(got) == 22  # NULL-keyed row kept
        assert any(r["v"] is None for r in got)  # NULL measurement stays NULL
        assert any(r["k"] is None for r in got)

    def test_corr_stats_complete_pairs_only(self, spark):
        rows = [("g", 1.0, 2.0), ("g", 2.0, 4.0), ("g", 3.0, 6.0),
                ("g", None, 100.0), ("g", 50.0, None)]
        df = spark.createDataFrame(rows, "g string, x double, y double")
        r = agg_ops.corr_stats(df, ["g"], "x", "y").first()
        assert r["n"] == 3          # incomplete pairs excluded from n
        assert r["corr_xy"] == 1.0  # perfect correlation on complete pairs

    def test_kappa_counts_null_label_marginals(self, spark):
        rows = [(None, None)] * 50 + [("a", "b")] * 50
        df = spark.createDataFrame(rows, "p string, t string")
        r = agg_ops.cohens_kappa(df, "p", "t").first()
        # po = 0.5; pe = (50*50 + 50*50)/100^2 = 0.5?? no: margins are
        # pred {None:50, a:50}, truth {None:50, b:50}; only the None
        # label appears in both margins → pe = 2500/10000 = 0.25
        assert r["po"] == 0.5 and r["pe"] == 0.25
        assert abs(r["kappa"] - (0.5 - 0.25) / 0.75) < 1e-6

    def test_percentiles_distributed_empty_input(self, spark):
        df = spark.createDataFrame([], "g string, v double")
        out = agg_ops.percentiles_distributed(df, ["g"], "v", [0.5])
        assert out.count() == 0
        assert dict(out.dtypes) == {"g": "string", "p50": "double"}

    def test_quality_report_names_with_specials(self, spark):
        from dataengineer_spark.operators import quality

        df = spark.createDataFrame([(1, None), (2, "x")], "`order id` long, v string")
        out = {r["column_name"]: r["n_null"] for r in quality.null_rates(df, ["order id", "v"]).collect()}
        assert out == {"order id": 0, "v": 1}
        rep = quality.constraint_report(
            df, {"can't be null": F.col("v").isNull()}
        ).first()
        assert rep["check_name"] == "can't be null" and rep["violations"] == 1

    def test_orphans_ignore_null_fk(self, spark):
        from dataengineer_spark.operators import quality

        child = spark.createDataFrame([(1, 10), (2, None), (3, 99)], "id long, fk long")
        parent = spark.createDataFrame([(10,)], "pk long")
        out = quality.orphan_rows(child, parent, "fk", "pk").collect()
        assert [r["id"] for r in out] == [3]  # NULL fk is not a violation

    def test_quality_score_null_text(self, spark):
        from dataengineer_spark.operators import textops

        df = spark.createDataFrame([(None,), ("",)], "text string")
        got = [r["q"] for r in df.select(textops.quality_score("text").alias("q")).collect()]
        assert got[0] is None and got[1] == 0.0

    def test_catalog_mutations_refuse_remote_root(self, spark):
        import pytest

        from dataengineer_spark.catalog import Catalog

        cat = Catalog(spark, "s3a://bucket/lake")
        df = spark.createDataFrame([(1,)], "k long")
        with pytest.raises(NotImplementedError, match="POSIX"):
            cat.merge_upsert(df, "t", ["k"])
        with pytest.raises(NotImplementedError, match="POSIX"):
            cat.merge_aggregate(df, "t", ["k"], [])


class TestFifthReviewEdgeCases:
    def test_salted_join_same_named_keys_and_duplicate_rows(self, spark):
        # same-named key must not be ambiguous; identical duplicate rows
        # of a hot key must spread across salts
        left = spark.createDataFrame([(1, "x")] * 64 + [(2, "y")], "k long, v string")
        right = spark.createDataFrame([(1, "dim1"), (2, "dim2")], "k long, d string")
        out = join_ops.salted_join(left, right, "k", "k", n_salt=8)
        rows = out.collect()
        assert len(rows) == 65
        # salt spread: the 64 duplicate rows must have used >1 salt —
        # observable via partitioning? instead verify correctness only;
        # spread is covered by monotonically_increasing_id construction
        assert {r["d"] for r in rows} == {"dim1", "dim2"}

    def test_linkage_null_field_contributes_zero(self, spark):
        pairs = spark.createDataFrame(
            [(1, 2, None), (3, 4, True), (5, 6, False)],
            "id_a long, id_b long, same_src boolean",
        )
        out = {
            r["id_a"]: r["link_score"]
            for r in join_ops.linkage_score(
                pairs, [(F.col("same_src"), 0.9, 0.1)], threshold=0.0
            ).collect()
        }
        import math

        assert out[1] == 0.0  # missing field: no evidence either way
        assert abs(out[3] - round(math.log2(0.9 / 0.1), 6)) < 1e-9
        assert abs(out[5] - round(math.log2(0.1 / 0.9), 6)) < 1e-9

    def test_cms_grouped_probe_requires_keys(self, spark):
        import pytest

        from dataengineer_spark.operators import sketches

        df = spark.createDataFrame(
            [("a", "w1")] * 5 + [("b", "w2")], "g string, w string"
        )
        cms = sketches.cms_table(df, "w", keys=["g"], depth=3, width=64)
        items = spark.createDataFrame([("a", "w1"), ("b", "w1")], "g string, w string")
        with pytest.raises(ValueError, match="group keys"):
            sketches.cms_estimate(cms, items, "w", depth=3, width=64)
        est = {
            (r["g"], r["w"]): r["est"]
            for r in sketches.cms_estimate(
                cms, items, "w", depth=3, width=64, keys=["g"]
            ).collect()
        }
        assert est[("a", "w1")] >= 5   # group-a count preserved
        assert est[("b", "w1")] == 0   # absent from group b

    def test_oov_vocab_duplicates_ignored(self, spark):
        from dataengineer_spark.operators import lm

        docs = spark.createDataFrame([(1, "the cat")], "doc_id long, text string")
        vocab = spark.createDataFrame(
            [("the",), ("the",)], "w string"  # duplicated vocab row
        )
        r = lm.oov_rate(docs, vocab).first()
        assert r["n_tokens"] == 2 and r["n_oov"] == 1

    def test_gopher_stopwords_distinct_not_occurrences(self, spark):
        from dataengineer_spark.operators import scrubbing

        base = "xqz " * 60
        one_stop_repeated = base + "the xqz the"
        two_distinct = base + "the xqz of"
        df = spark.createDataFrame(
            [(1, one_stop_repeated), (2, two_distinct)], "doc_id long, text string"
        )
        out = {
            r["doc_id"]: r["ok_stopwords"]
            for r in scrubbing.gopher_filter(df).collect()
        }
        assert out == {1: False, 2: True}

    def test_rrf_empty_rankers_raise(self, spark):
        import pytest

        from dataengineer_spark.operators import ranking

        with pytest.raises(ValueError, match="no rankers"):
            ranking.rrf_fuse([], ["doc_id"])


class TestScd2Lookup:
    def test_point_in_time_resolution_and_boundaries(self, spark):
        from dataengineer_spark.operators.dimensions import scd2_lookup

        dim = spark.createDataFrame(
            [
                (1, 100.0, "2000-01-01 00:00:00", "2000-06-01 00:00:00", False),
                (1, 200.0, "2000-06-01 00:00:00", None, True),
                (2, 7.0, "2000-03-01 00:00:00", None, True),
            ],
            "k long, bal double, valid_from string, valid_to string, is_current boolean",
        ).select(
            "k", "bal",
            F.to_timestamp("valid_from").alias("valid_from"),
            F.to_timestamp("valid_to").alias("valid_to"),
            "is_current",
        )
        facts = spark.createDataFrame(
            [
                (10, 1, "2000-02-15 00:00:00"),  # v1 window
                (11, 1, "2000-06-01 00:00:00"),  # boundary: valid_to exclusive, new valid_from inclusive
                (12, 1, "1999-01-01 00:00:00"),  # before history -> NULL
                (13, 2, "2001-01-01 00:00:00"),  # open-ended current
                (14, 3, "2000-01-01 00:00:00"),  # no dimension row -> NULL
            ],
            "fact_id long, k long, ts string",
        ).select("fact_id", "k", F.to_timestamp("ts").alias("ts"))
        out = {
            r["fact_id"]: r["bal"]
            for r in scd2_lookup(facts, dim, ["k"], "ts").collect()
        }
        assert out == {10: 100.0, 11: 200.0, 12: None, 13: 7.0, 14: None}
        # no fact row lost or duplicated
        assert scd2_lookup(facts, dim, ["k"], "ts").count() == 5

    def test_broadcast_hash_join_plan(self, spark):
        from dataengineer_spark.operators.dimensions import scd2_lookup

        dim = spark.createDataFrame(
            [(1, 1.0, None, None, True)],
            "k long, bal double, valid_from timestamp, valid_to timestamp, is_current boolean",
        )
        facts = spark.createDataFrame(
            [(1, 1, None)], "fact_id long, k long, ts timestamp"
        )
        plan = (
            scd2_lookup(facts, dim, ["k"], "ts")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan and "NestedLoop" not in plan


class TestSixthReviewMultimodalScd:
    def test_sample_frames_null_duration_survives(self, spark):
        from dataengineer_spark.operators.multimodal import sample_frames

        media = spark.createDataFrame(
            [(1, "image", bytes(b"abc"), None), (2, "video", bytes(b"abcdefgh"), 2000)],
            "media_id long, kind string, payload binary, duration_ms long",
        )
        out = sample_frames(media, every_ms=1000, deterministic_fake=True).collect()
        # NULL-duration row yields exactly one frame, no crash
        by_id = {}
        for r in out:
            by_id.setdefault(r["media_id"], []).append(r)
        assert len(by_id[1]) == 1 and len(by_id[2]) == 2

    def test_scd2_null_is_current_goes_to_history(self, spark):
        from dataengineer_spark.operators.dimensions import scd2_apply

        dim = spark.createDataFrame(
            [
                (1, "v1", "2020-01-01", None, True),
                (2, "v0", "2019-01-01", "2020-01-01", None),  # NULL flag
            ],
            "k long, v string, valid_from string, valid_to string, is_current boolean",
        )
        updates = spark.createDataFrame(
            [(1, "v2", "2021-01-01")], "k long, v string, eff string"
        )
        out = scd2_apply(
            dim, updates, ["k"], ["v"], eff_col="eff",
        )
        rows = out.collect()
        # the NULL-flag row is retained (in history), not silently dropped
        assert any(r["k"] == 2 for r in rows)


class TestSeventhReviewEdgeCases:
    def test_sessionize_boundary_parity_lag_vs_native(self, spark):
        # two events EXACTLY gap apart stay in ONE session in BOTH forms:
        # session_window MERGES touching windows (verified empirically),
        # so the lag rule's strict > is the parity-correct boundary;
        # one microsecond past the gap splits in both
        df = spark.createDataFrame(
            [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:30:00"),
             (2, "2024-01-01 00:00:00"), (2, "2024-01-01 00:30:00.000001")],
            "user_id long, ts_s string",
        ).select("user_id", F.to_timestamp("ts_s").alias("ts"))
        lag_out = event_ops.sessionize_lag(df, "ts", 1800, ["user_id"])
        lag_n = {
            u: len({r["session_id"] for r in rows})
            for u, rows in (
                (1, [r for r in lag_out.collect() if r["user_id"] == 1]),
                (2, [r for r in lag_out.collect() if r["user_id"] == 2]),
            )
        }
        native = event_ops.sessionize_native(
            df, "ts", "30 minutes", ["user_id"], [F.count("*").alias("n")]
        ).collect()
        native_n = {}
        for r in native:
            native_n[r["user_id"]] = native_n.get(r["user_id"], 0) + 1
        assert lag_n == native_n == {1: 1, 2: 2}

    def test_array_lit_non_finite_floats(self, spark):
        from dataengineer_spark.tuning import array_lit

        df = spark.range(1)
        row = df.select(
            array_lit([float("nan"), float("inf"), float("-inf"), 1.5]).alias("a")
        ).first()
        import math

        a = row["a"]
        assert math.isnan(a[0]) and a[1] == float("inf") and a[2] == float("-inf")
        assert a[3] == 1.5

    def test_array_lit_null_elements_typed_double(self, spark):
        from dataengineer_spark.tuning import array_lit

        row = spark.range(1).select(array_lit([None, 2.0]).alias("a")).first()
        assert row["a"][0] is None and row["a"][1] == 2.0

    def test_lineage_cut_upgrades_with_checkpoint_dir(self, spark, tmp_path):
        """Every lineage cut in the engine goes through lineage_cut:
        local blocks by default (local[*] / re-runnable jobs), RELIABLE
        checkpoint when the session has a checkpoint dir — the
        fault-tolerance knob for 1000-executor deployments where
        localCheckpoint blocks die with their executor."""
        import os

        from dataengineer_spark.tuning import lineage_cut

        df = spark.range(100).withColumn("v", F.col("id") * 2)
        assert spark.sparkContext.getCheckpointDir() is None
        local = lineage_cut(df)
        assert local.count() == 100
        ckdir = str(tmp_path / "ck")
        spark.sparkContext.setCheckpointDir(ckdir)
        try:
            reliable = lineage_cut(df)
            assert reliable.count() == 100
            # blocks actually hit the shared-storage dir (the .rdd
            # accessor wraps a fresh RDD, so isCheckpointed() on it
            # can't witness the internal reliable checkpoint)
            assert os.listdir(ckdir)
            assert sorted(r["v"] for r in reliable.collect()) == sorted(
                r["v"] for r in df.collect()
            )
        finally:
            # PySpark exposes no unset API — clear the scala Option via
            # py4j so the session-scoped fixture leaves no cross-test
            # state (a leftover dir would silently upgrade every later
            # lineage cut; semantics-preserving but not what the suite
            # pins)
            none_opt = spark._jvm.scala.Option.apply(None)
            getattr(spark.sparkContext._jsc.sc(), "checkpointDir_$eq")(none_opt)
            assert spark.sparkContext.getCheckpointDir() is None

    def test_array_lit_null_next_to_non_floats_raises(self, spark):
        # None is typed CAST(NULL AS DOUBLE); silently double-coercing an
        # int/bool/string array would change its element type (ADVICE r7)
        import pytest

        from dataengineer_spark.tuning import array_lit

        for bad in ([None, 2], [None, True], [[1, 2], [None]]):
            with pytest.raises(ValueError):
                array_lit(bad)
        # all-float with None stays supported
        row = spark.range(1).select(array_lit([[None, 1.5]]).alias("a")).first()
        assert row["a"][0][0] is None and row["a"][0][1] == 1.5

    def test_lineage_cut_lazy_reliable_and_preowned_cache(self, spark, tmp_path):
        """ADVICE r7: the reliable branch must honor eager=False (no
        build-time job — sorted_neighborhood_pairs builds lazily) and
        must not re-persist / transiently-unpersist a frame the CALLER
        already cached."""
        import os

        from pyspark import StorageLevel

        from dataengineer_spark.tuning import lineage_cut

        spark.sparkContext.setCheckpointDir(str(tmp_path / "ck2"))
        try:
            df = spark.range(50).withColumn("v", F.col("id") + 1)
            lazy = lineage_cut(df, eager=False)
            # values correct once an action runs; checkpoint files land
            assert lazy.count() == 50
            assert os.listdir(str(tmp_path / "ck2"))
            # caller-owned cache: no raise on a non-default level, and
            # the cache survives the cut (lifetime stays caller-owned)
            owned = spark.range(20).persist(StorageLevel.DISK_ONLY)
            cut = lineage_cut(owned)
            assert cut.count() == 20
            assert owned.storageLevel.useDisk  # still the caller's cache
            owned.unpersist()
        finally:
            none_opt = spark._jvm.scala.Option.apply(None)
            getattr(spark.sparkContext._jsc.sc(), "checkpointDir_$eq")(none_opt)
            assert spark.sparkContext.getCheckpointDir() is None

    def test_run_config_rejects_short_dates(self):
        import pytest

        from dataengineer_spark.config import RunConfig

        with pytest.raises(ValueError):
            RunConfig(date_from="20220101", date_to="202212")


class TestPrCurve:
    def test_hand_counts_and_nulls(self, spark):
        # scores: 0.9+, 0.8+, 0.7-, 0.2-  (y = label)
        df = spark.createDataFrame(
            [(0.9, True), (0.8, True), (0.7, False), (0.2, False)],
            "score double, y boolean",
        )
        rows = {
            r["threshold"]: r
            for r in agg_ops.pr_curve(
                df, "score", F.col("y"), [0.5, 0.75, 1.0]
            ).collect()
        }
        r = rows[0.5]
        assert (r["tp"], r["fp"], r["fn"]) == (2, 1, 0)
        assert r["precision"] == 2 / 3 and r["recall"] == 1.0
        assert math.isclose(r["f1"], 2 * (2 / 3) / (2 / 3 + 1))
        r = rows[0.75]
        assert (r["tp"], r["fp"], r["fn"]) == (2, 0, 0)
        assert r["precision"] == 1.0 and r["recall"] == 1.0 and r["f1"] == 1.0
        # threshold above every score: no predicted positives -> NULL
        # precision, defined recall 0, NULL f1 (never a division error)
        r = rows[1.0]
        assert (r["tp"], r["fp"], r["fn"]) == (0, 0, 2)
        assert r["precision"] is None and r["recall"] == 0.0 and r["f1"] is None

    def test_empty_grid_raises(self, spark):
        df = spark.createDataFrame([(0.5, True)], "score double, y boolean")
        with pytest.raises(ValueError):
            agg_ops.pr_curve(df, "score", F.col("y"), [])

    def test_null_score_positive_counts_as_fn(self, spark):
        # an unscored positive can never be retrieved: it must stay in
        # the recall denominator (fn), not silently vanish; a NULL label
        # carries no truth and is excluded from all three counts
        df = spark.createDataFrame(
            [(0.9, True), (None, True), (None, False), (0.9, None)],
            "score double, y boolean",
        )
        r = agg_ops.pr_curve(df, "score", F.col("y"), [0.5]).collect()[0]
        assert (r["tp"], r["fp"], r["fn"]) == (1, 0, 1)
        assert r["recall"] == 0.5


class TestAnnRecall:
    def test_full_probe_is_exact(self, spark, sf_dir):
        # probing every cell makes IVF brute force -> recall@k == 1.0
        from dataengineer_spark.testdata import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        probes = emb.where(F.col("vec_id") < 5)
        out = sim_ops.ann_recall(
            probes, emb, dim=64, k=5, n_centroids=8, n_probe=8,
            allow_quadratic=True,
        ).collect()
        assert len(out) == 5
        assert all(r["recall"] == 1.0 and r["n_hit"] == 5 for r in out)

    def test_partial_probe_bounded(self, spark, sf_dir):
        from dataengineer_spark.testdata import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        probes = emb.where(F.col("vec_id") < 5)
        out = sim_ops.ann_recall(
            probes, emb, dim=64, k=5, n_centroids=16, n_probe=2,
            allow_quadratic=True,
        ).collect()
        assert len(out) == 5
        assert all(0.0 <= r["recall"] <= 1.0 for r in out)
        assert all(r["recall"] == r["n_hit"] / 5 for r in out)


class TestTransitionCounts:
    def test_sequence_and_ts_tie_break(self, spark):
        # user 1: a(t1) -> b(t2) -> b(t2, higher id) -> c(t3); the t2 tie
        # orders by event_id, so pairs are (a,b),(b,b),(b,c)
        df = spark.createDataFrame(
            [
                (1, 1, "2024-01-01 00:00:01", "a"),
                (2, 1, "2024-01-01 00:00:02", "b"),
                (3, 1, "2024-01-01 00:00:02", "b"),
                (4, 1, "2024-01-01 00:00:03", "c"),
                (5, 2, "2024-01-01 00:00:01", "a"),
            ],
            "event_id long, user_id long, ts string, event_type string",
        ).withColumn("ts", F.to_timestamp("ts"))
        got = {
            (r["event_type"], r["next_type"]): r["n"]
            for r in event_ops.transition_counts(df).collect()
        }
        # user 2 has a single event -> contributes no pair
        assert got == {("a", "b"): 1, ("b", "b"): 1, ("b", "c"): 1}


class TestTrailingRangeAgg:
    def test_boundary_inclusive_and_partitioned(self, spark):
        # trailing 10 s: the event exactly 10 s earlier IS in frame; the
        # one 11 s earlier is not; other users never leak in
        df = spark.createDataFrame(
            [
                (1, 1, "2024-01-01 00:00:00", 5.0),
                (2, 1, "2024-01-01 00:00:10", 3.0),
                (3, 1, "2024-01-01 00:00:21", 7.0),
                (4, 2, "2024-01-01 00:00:10", 100.0),
            ],
            "event_id long, user_id long, ts string, value double",
        ).withColumn("ts", F.to_timestamp("ts"))
        got = {
            r["event_id"]: (r["trailing_n"], r["trailing_min"], r["trailing_max"])
            for r in win_ops.trailing_range_agg(
                df, "user_id", "ts", 10, "value"
            ).collect()
        }
        assert got[1] == (1, 5.0, 5.0)
        assert got[2] == (2, 3.0, 5.0)   # 10 s boundary inclusive
        assert got[3] == (1, 7.0, 7.0)   # 11 s gap: frame restarts
        assert got[4] == (1, 100.0, 100.0)  # user isolation


class TestTokenFertility:
    def test_exact_ratios_and_empty_group(self, spark):
        df = spark.createDataFrame(
            [
                ("en", "ab cd"),       # 2 tokens, 5 chars
                ("en", "efg"),         # 1 token, 3 chars
                ("zz", "   "),         # 0 tokens
                ("nn", None),          # NULL text -> 0 tokens, NULL chars
            ],
            "lang string, text string",
        )
        rows = {r["grp"]: r for r in textops.token_fertility(df).collect()}
        en = rows["en"]
        assert (en["n_docs"], en["n_tokens"]) == (2, 3)
        assert en["chars_per_token"] == 8 / 3
        assert en["bytes_per_token"] == 8 / 3
        assert rows["zz"]["chars_per_token"] is None  # 0-token group: NULL
        # NULL text counts 0 tokens (never a NULL sum), ratios NULL
        nn = rows["nn"]
        assert (nn["n_docs"], nn["n_tokens"]) == (1, 0)
        assert nn["chars_per_token"] is None


class TestPqReconstructionError:
    def test_zero_error_at_centroids_and_exact_offset(self, spark):
        # m=2 subspaces of dsub=2, ksub=2 centroids each
        cb = [
            [[1.0, 0.0], [0.0, 1.0]],
            [[2.0, 2.0], [-2.0, -2.0]],
        ]
        rows = [
            (1, [1.0, 0.0, 2.0, 2.0]),     # exactly centroids -> 0 error
            (2, [0.0, 1.0, -2.0, -2.0]),   # exactly centroids -> 0 error
            (3, [1.0, 0.0, 2.0, 1.0]),     # subspace 1 off by (0,1) -> se 1
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {
            r["subspace"]: r
            for r in sim_ops.pq_reconstruction_error(df, cb).collect()
        }
        assert got[0]["mse"] == 0.0 and got[0]["n_vecs"] == 3
        assert got[1]["mse"] == round(1.0 / 3, 6)

    def test_matches_encode_assignment(self, spark, sf_dir):
        # the audited error must use the SAME assignment as pq_encode:
        # reconstruct manually from the codes and compare per-subspace
        # means (any off-by-one in the centroid lookup diverges here)
        from dataengineer_spark.testdata import load_table
        from dataengineer_spark.tuning import sql_literal

        emb = load_table(spark, sf_dir, "embeddings").limit(50)
        cb = sim_ops.pq_codebook(64, m=8, ksub=16, seed=11)
        out = {
            r["subspace"]: r
            for r in sim_ops.pq_reconstruction_error(emb, cb).collect()
        }
        assert sorted(out) == list(range(8))
        enc = sim_ops.pq_encode(emb, cb, out="codes")
        dsub = len(cb[0][0])
        v = "CAST(`embedding` AS ARRAY<DOUBLE>)"
        for j in (0, 3, 7):
            cent = (
                f"element_at({sql_literal(cb[j])}, "
                f"element_at(`codes`, {j + 1}) + 1)"
            )
            se = sim_ops.sqdist(f"slice({v}, {j * dsub + 1}, {dsub})", cent)
            manual = enc.agg(
                F.round(
                    F.sum(se.cast("decimal(28,12)")).cast("double")
                    / F.count("*"),
                    6,
                ).alias("mse")
            ).collect()[0]["mse"]
            assert manual == out[j]["mse"] and out[j]["n_vecs"] == 50


class TestBootstrapMetricCi:
    def test_degenerate_all_correct(self, spark):
        df = spark.createDataFrame(
            [(i, 1) for i in range(200)], "id long, correct int"
        )
        r = agg_ops.bootstrap_metric_ci(df, "correct", "id", 50, 3, 48).collect()[0]
        assert (r["mean_acc"], r["ci_lo"], r["ci_hi"]) == (1.0, 1.0, 1.0)
        assert r["n_replicas"] == 50

    def test_ci_brackets_and_determinism(self, spark):
        # ~70% correct: CI must bracket lo <= hi and be reproducible
        df = spark.createDataFrame(
            [(i, 1 if i % 10 < 7 else 0) for i in range(300)],
            "id long, correct int",
        )
        a = agg_ops.bootstrap_metric_ci(df, "correct", "id").collect()[0]
        b = agg_ops.bootstrap_metric_ci(df, "correct", "id").collect()[0]
        assert a == b
        assert 0.0 < a["ci_lo"] <= a["ci_hi"] < 1.0
        assert abs(a["mean_acc"] - 0.7) < 0.1

    def test_rank_validation(self, spark):
        df = spark.createDataFrame([(1, 1)], "id long, correct int")
        with pytest.raises(ValueError):
            agg_ops.bootstrap_metric_ci(df, "correct", "id", 10, 0, 9)
        with pytest.raises(ValueError):
            agg_ops.bootstrap_metric_ci(df, "correct", "id", 10, 5, 11)

    def test_empty_input_single_null_row(self, spark):
        # contract: always ONE row; an empty eval slice gives NULL stats,
        # never an empty frame a downstream reader would miss
        df = spark.createDataFrame([], "id long, correct int")
        out = agg_ops.bootstrap_metric_ci(df, "correct", "id").collect()
        assert len(out) == 1
        r = out[0]
        assert r["n_replicas"] == 100
        assert r["mean_acc"] is None and r["ci_lo"] is None and r["ci_hi"] is None


class TestIntervalOverlapJoin:
    def _iv(self, spark, rows):
        return spark.createDataFrame(
            rows, "k long, id long, s long, e long"
        )

    def test_pairs_once_across_bucket_boundary(self, spark):
        # bucket 10 s; intervals [5,15] and [12,22] overlap 3 s and share
        # buckets {1} and {1,2}: the pair must appear exactly once
        df = self._iv(spark, [(1, 1, 5, 15), (1, 2, 12, 22)])
        got = join_ops.interval_overlap_join(df, "k", "s", "e", "id", 10).collect()
        assert len(got) == 1
        r = got[0]
        assert (r["id_a"], r["id_b"], r["overlap_s"]) == (1, 2, 3)

    def test_touching_no_overlap_and_key_isolation(self, spark):
        df = self._iv(
            spark,
            [
                (1, 1, 0, 10),
                (1, 2, 10, 20),   # touches id 1 at t=10 -> overlap 0
                (1, 3, 21, 30),   # disjoint from both
                (2, 4, 0, 100),   # other key: never pairs
            ],
        )
        got = {
            (r["id_a"], r["id_b"]): r["overlap_s"]
            for r in join_ops.interval_overlap_join(
                df, "k", "s", "e", "id", 50
            ).collect()
        }
        assert got == {(1, 2): 0}

    def test_validation(self, spark):
        df = self._iv(spark, [(1, 1, 10, 5)])
        with pytest.raises(ValueError):
            join_ops.interval_overlap_join(df, "k", "s", "e", "id", 0)
        with pytest.raises(Exception):  # end < start raises at execution
            join_ops.interval_overlap_join(df, "k", "s", "e", "id", 10).collect()


class TestWilsonAccuracy:
    def test_exact_interval_math(self, spark):
        import math

        df = spark.createDataFrame(
            [("g", 1)] * 8 + [("g", 0)] * 2 + [("h", 1)] * 5,
            "grp string, correct int",
        )
        got = {
            r["grp"]: r
            for r in agg_ops.wilson_accuracy(df, ["grp"], "correct").collect()
        }
        z, z2 = 1.96, 1.96 * 1.96

        def wilson(s, n):
            p = s / n
            denom = 1 + z2 / n
            center = (p + z2 / (2 * n)) / denom
            half = z * math.sqrt((p * (1 - p) + z2 / (4 * n)) / n) / denom
            return round(center - half, 6), round(center + half, 6)

        g = got["g"]
        assert (g["n"], g["rate"]) == (10, 0.8)
        assert (g["wilson_lo"], g["wilson_hi"]) == wilson(8, 10)
        # a perfect 5/5 slice must NOT collapse to [1, 1]
        h = got["h"]
        assert h["rate"] == 1.0
        lo, hi = wilson(5, 5)
        assert h["wilson_lo"] == lo and lo < 1.0 and h["wilson_hi"] == hi

    def test_interval_brackets_rate(self, spark):
        df = spark.createDataFrame(
            [(i % 3, 1 if i % 5 else 0) for i in range(90)],
            "grp int, correct int",
        )
        for r in agg_ops.wilson_accuracy(df, ["grp"], "correct").collect():
            assert r["wilson_lo"] <= r["rate"] <= r["wilson_hi"]
            assert 0.0 <= r["wilson_lo"] and r["wilson_hi"] <= 1.0


class TestBlockingQuality:
    def test_counts_and_ratios_by_hand(self, spark):
        # 4 rows, ids 1..4; texts: 1&2 identical (true match), 3&4 far.
        # block key: first char — 1&2 share 'a' (blocked true match),
        # 3 is 'a' too (adds candidate pairs), 4 is 'b' (alone).
        df = spark.createDataFrame(
            [
                (1, "aaaa"),
                (2, "aaaa"),
                (3, "azzzzzzzz"),
                (4, "bzzzzzzzz"),
            ],
            "id long, text string",
        )
        out = join_ops.blocking_quality(
            df, "id", "text", F.substring("text", 1, 1),
            max_distance=1, prefix_len=10, allow_quadratic=True,
        ).collect()[0]
        # truth: (1,2) lev 0; (3,4) lev 1 — cross-block, so missed
        assert out["n_rows"] == 4 and out["n_pairs_total"] == 6
        assert out["n_true"] == 2 and out["n_found"] == 1
        assert out["n_cand"] == 3  # pairs within block 'a': (1,2),(1,3),(2,3)
        assert out["completeness"] == 0.5
        assert out["reduction_ratio"] == 0.5

    def test_no_true_matches_null_completeness(self, spark):
        df = spark.createDataFrame(
            [(1, "completely distinct alpha"), (2, "other beta text zz")],
            "id long, text string",
        )
        out = join_ops.blocking_quality(
            df, "id", "text", F.lit(1), max_distance=1, prefix_len=20,
            allow_quadratic=True,
        ).collect()[0]
        assert out["n_true"] == 0 and out["n_found"] == 0
        assert out["completeness"] is None


class TestWilsonNullCorrect:
    def test_null_correct_counts_as_failure(self, spark):
        # an all-NULL slice reports rate 0 with a defined interval —
        # the CASE-ELSE-0 oracle convention, never NULL stats
        df = spark.createDataFrame(
            [("g", None), ("g", None), ("h", 1)],
            "grp string, correct int",
        )
        got = {
            r["grp"]: r
            for r in agg_ops.wilson_accuracy(df, ["grp"], "correct").collect()
        }
        assert got["g"]["rate"] == 0.0 and got["g"]["n"] == 2
        assert got["g"]["wilson_lo"] is not None
        assert got["g"]["wilson_lo"] == 0.0 and got["g"]["wilson_hi"] > 0.0


class TestFairTrimReport:
    def test_integer_cut_and_token_accounting(self, spark):
        from dataengineer_spark.operators.ranking import fair_trim_report

        # source a: 5 docs -> keep top 1 (rank*5 <= 5); source b: 4 docs
        # -> keep none (rank*5 <= 4 never holds): the exact-int rule,
        # not a rounded fraction
        rows = [("a", i, "w " * (10 - i)) for i in range(5)] + [
            ("b", i, "x " * (i + 1)) for i in range(4)
        ]
        df = spark.createDataFrame(rows, "source string, doc_id long, text string")
        got = {
            r["grp"]: r
            for r in fair_trim_report(
                df, "source",
                [F.length("text").desc(), F.col("doc_id").asc()],
            ).collect()
        }
        a = got["a"]
        assert (a["n_docs"], a["n_kept"]) == (5, 1)
        assert a["kept_tokens"] == 10  # the longest doc ("w " * 10)
        assert a["kept_tokens"] + a["dropped_tokens"] == 10 + 9 + 8 + 7 + 6
        b = got["b"]
        assert (b["n_docs"], b["n_kept"], b["kept_tokens"]) == (4, 0, 0)

    def test_fraction_validation(self, spark):
        from dataengineer_spark.operators.ranking import fair_trim_report

        df = spark.createDataFrame([("a", "x")], "source string, text string")
        with pytest.raises(ValueError):
            fair_trim_report(df, "source", [F.col("text")], 2, 1)
        with pytest.raises(ValueError):
            fair_trim_report(df, "source", [F.col("text")], 0, 5)

    def test_trim_filter_matches_report(self, spark):
        # the row-filter and the report share one core: survivors per
        # group must equal the report's n_kept exactly
        from dataengineer_spark.operators.ranking import (
            fair_trim,
            fair_trim_report,
        )

        rows = [("s%d" % (i % 3), i, "w " * (i % 7 + 1)) for i in range(33)]
        df = spark.createDataFrame(rows, "source string, doc_id long, text string")
        order = [F.length("text").desc(), F.col("doc_id").asc()]
        kept = (
            fair_trim(df, "source", order, 2, 5)
            .groupBy("source").count().collect()
        )
        rep = {
            r["grp"]: r["n_kept"]
            for r in fair_trim_report(df, "source", order, 2, 5).collect()
        }
        assert {r["source"]: r["count"] for r in kept} == {
            g: n for g, n in rep.items() if n > 0
        }


class TestCorpusDatacard:
    def test_exact_card_values(self, spark):
        from dataengineer_spark.operators.quality import corpus_datacard

        df = spark.createDataFrame(
            [
                ("en", "s1", "a b c"),
                ("en", "s1", "a b c"),     # exact dup
                ("fr", "s2", "d e"),
                ("fr", "s2", None),        # NULL text: 0 tokens, no distinct
            ],
            "lang string, source string, text string",
        )
        got = {r["metric"]: r["value"] for r in corpus_datacard(df).collect()}
        assert got["n_docs"] == 4.0
        assert got["n_text_docs"] == 3.0
        assert got["n_tokens"] == 8.0
        assert got["n_langs"] == 2.0 and got["n_sources"] == 2.0
        assert got["n_distinct_texts"] == 2.0
        # dup_rate over docs WITH text: one true dup among 3 -> 1/3,
        # never inflated by the NULL-text row
        assert got["dup_rate"] == 1 - 2 / 3
        assert got["tokens_per_doc"] == 2.0


class TestIntervalCoverage:
    def test_overlaps_counted_once_and_touching_merge(self, spark):
        # user 1: [0,10) + [5,15) overlap -> one island of 15; [15,20)
        # touches -> merges (half-open); [30,40) is its own island
        df = spark.createDataFrame(
            [
                (1, 1, 0, 10),
                (2, 1, 5, 15),
                (3, 1, 15, 20),
                (4, 1, 30, 40),
                (5, 2, 0, 100),
            ],
            "id long, k long, s long, e long",
        )
        got = {
            r["k"]: r
            for r in join_ops.interval_coverage(df, "k", "s", "e", "id").collect()
        }
        assert (got[1]["n_intervals"], got[1]["n_islands"]) == (4, 2)
        assert got[1]["covered_s"] == 20 + 10  # union, not 10+10+5+10=35
        assert got[2]["covered_s"] == 100

    def test_contained_interval_extends_nothing(self, spark):
        # [0,100) fully contains [10,20): coverage stays 100 and the
        # running-max rule must not split the island
        df = spark.createDataFrame(
            [(1, 1, 0, 100), (2, 1, 10, 20), (3, 1, 50, 120)],
            "id long, k long, s long, e long",
        )
        r = join_ops.interval_coverage(df, "k", "s", "e", "id").collect()[0]
        assert (r["n_islands"], r["covered_s"]) == (1, 120)

    def test_null_or_negative_interval_raises(self, spark):
        df = spark.createDataFrame(
            [(1, 1, None, 50), (2, 1, 100, 110)],
            "id long, k long, s long, e long",
        )
        with pytest.raises(Exception):
            join_ops.interval_coverage(df, "k", "s", "e", "id").collect()


class TestRankingEval:
    def test_ndcg_perfect_and_inverted(self, spark):
        from dataengineer_spark.operators.ranking import ranking_eval

        # q1: relevance already in rank order -> ndcg = 1
        # q2: inverted (best item ranked last) -> ndcg < 1
        rows = [
            ("q1", 1, 2), ("q1", 2, 1), ("q1", 3, 0),
            ("q2", 1, 0), ("q2", 2, 1), ("q2", 3, 2),
        ]
        df = spark.createDataFrame(rows, ["q", "rk", "rel"])
        out = {
            r["query"]: r
            for r in ranking_eval(df, "q", "rk", "rel", k=10).collect()
        }
        assert out["q1"]["ndcg"] == 1.0
        assert out["q2"]["ndcg"] < 1.0
        assert out["q1"]["rr"] == 1.0
        assert abs(out["q2"]["rr"] - 0.5) < 1e-9
        assert out["q1"]["hits"] == 2 and out["q2"]["hits"] == 2

    def test_no_relevant_yields_null_ndcg_and_rr(self, spark):
        from dataengineer_spark.operators.ranking import ranking_eval

        df = spark.createDataFrame(
            [("q", 1, 0), ("q", 2, 0)], ["q", "rk", "rel"]
        )
        row = ranking_eval(df, "q", "rk", "rel", k=10).collect()[0]
        assert row["hits"] == 0
        assert row["dcg"] == 0.0 and row["idcg"] == 0.0
        assert row["ndcg"] is None and row["rr"] is None

    def test_rows_past_k_deflate_ndcg_via_ideal(self, spark):
        from dataengineer_spark.operators.ranking import ndcg_discounts, ranking_eval

        df = spark.createDataFrame(
            [("q", 1, 1), ("q", 2, 0), ("q", 3, 2)], ["q", "rk", "rel"]
        )
        row = ranking_eval(df, "q", "rk", "rel", k=2).collect()[0]
        # the rel=2 item at rank 3 contributes nothing to DCG/hits/RR,
        # but the IDEAL ranking may use it (textbook nDCG): ideal top-2
        # is [rel 2, rel 1], so the system's burial shows up as ndcg < 1
        assert row["hits"] == 1 and row["rr"] == 1.0
        d = ndcg_discounts(2)
        assert abs(row["dcg"] - 1.0 * d[0]) < 1e-6
        assert abs(row["idcg"] - (3.0 * d[0] + 1.0 * d[1])) < 1e-6
        assert row["ndcg"] < 1.0

    def test_null_rank_is_judged_but_unretrieved(self, spark):
        from dataengineer_spark.operators.ranking import ndcg_discounts, ranking_eval

        # rel=2 judged but never retrieved (NULL rank): contributes to
        # IDCG only — the left-join-of-judgments contract
        df = spark.createDataFrame(
            [("q", 1, 1), ("q", None, 2)], "q string, rk int, rel int"
        )
        row = ranking_eval(df, "q", "rk", "rel", k=2).collect()[0]
        d = ndcg_discounts(2)
        assert row["hits"] == 1 and row["rr"] == 1.0
        assert abs(row["dcg"] - 1.0 * d[0]) < 1e-6
        assert abs(row["idcg"] - (3.0 * d[0] + 1.0 * d[1])) < 1e-6
        assert row["ndcg"] < 1.0


class TestRboOverlap:
    def test_identical_rankings_score_one(self, spark):
        from dataengineer_spark.operators.ranking import rbo_overlap

        rows = [("q", i, i) for i in range(1, 11)]
        a = spark.createDataFrame(rows, ["q", "item", "rk"])
        out = rbo_overlap(a, a, "q", "item", "rk", k=10, p=0.9).collect()[0]
        # truncated RBO of identical depth-10 lists: (1-p)*sum(p^(d-1)*1)
        # with X_d = d  ->  sum over d of p^(d-1)
        expected = round(sum(0.9 ** (d - 1) * d / d for d in range(1, 11)) * 0.1, 6)
        assert abs(out["rbo"] - expected) < 1e-9
        assert out["n_overlap"] == 10

    def test_disjoint_rankings_keep_query_row(self, spark):
        from dataengineer_spark.operators.ranking import rbo_overlap

        a = spark.createDataFrame([("q", 1, 1), ("q", 2, 2)], ["q", "item", "rk"])
        b = spark.createDataFrame([("q", 9, 1), ("q", 8, 2)], ["q", "item", "rk"])
        out = rbo_overlap(a, b, "q", "item", "rk", k=10, p=0.9).collect()
        assert len(out) == 1
        assert out[0]["rbo"] == 0.0 and out[0]["n_overlap"] == 0

    def test_one_sided_queries_keep_rows_both_ways(self, spark):
        from dataengineer_spark.operators.ranking import rbo_overlap

        # qa only in ranking A, qb only in ranking B: the base is the
        # UNION of both query sets, so both keep an rbo=0 row
        a = spark.createDataFrame([("qa", 1, 1)], ["q", "item", "rk"])
        b = spark.createDataFrame([("qb", 1, 1)], ["q", "item", "rk"])
        out = {
            r["query"]: r
            for r in rbo_overlap(a, b, "q", "item", "rk", k=10, p=0.9).collect()
        }
        assert set(out) == {"qa", "qb"}
        assert all(r["rbo"] == 0.0 and r["n_overlap"] == 0 for r in out.values())

    def test_weights_decompose_depth_sum(self):
        from dataengineer_spark.operators.ranking import rbo_weights

        # sum of the per-item weights over all entry depths equals the
        # direct double sum  sum_d p^(d-1) / d * d  when every depth has
        # exactly one entering item (the identical-lists case)
        k, p = 7, 0.8
        w = rbo_weights(k, p)
        direct = sum(p ** (d - 1) for d in range(1, k + 1))
        assert abs(sum(w) - direct) < 1e-12


class TestPreferencePairs:
    def test_mirror_pairing_and_margin(self, spark):
        from dataengineer_spark.operators.preparation import preference_pairs

        rows = [
            ("u1", 1, 10.0), ("u1", 2, 7.0), ("u1", 3, 3.0), ("u1", 4, 1.0),
            ("u2", 5, 5.0), ("u2", 6, 4.9),  # gap 0.1 < margin -> dropped
            ("u3", 7, 2.0),  # singleton: no pair
        ]
        df = spark.createDataFrame(rows, ["u", "i", "s"])
        out = preference_pairs(df, "u", "i", "s", margin=0.5).collect()
        got = {(r["grp"], r["chosen_id"], r["rejected_id"]) for r in out}
        assert got == {("u1", 1, 4), ("u1", 2, 3)}
        by_rank = {r["pair_rank"]: r for r in out}
        assert by_rank[1]["gap"] == 9.0 and by_rank[2]["gap"] == 4.0

    def test_null_scores_and_groups_excluded(self, spark):
        from dataengineer_spark.operators.preparation import preference_pairs

        rows = [
            ("u", 1, 9.0), ("u", 2, None), ("u", 3, 1.0), (None, 4, 5.0),
        ]
        df = spark.createDataFrame(rows, ["u", "i", "s"])
        out = preference_pairs(df, "u", "i", "s").collect()
        # NULL score row 2 and NULL group row 4 never pair; remaining
        # two rows of u form one pair
        assert len(out) == 1
        assert out[0]["chosen_id"] == 1 and out[0]["rejected_id"] == 3

    def test_odd_group_middle_sits_out(self, spark):
        from dataengineer_spark.operators.preparation import preference_pairs

        rows = [("u", i, float(10 - i)) for i in range(1, 6)]
        df = spark.createDataFrame(rows, ["u", "i", "s"])
        out = preference_pairs(df, "u", "i", "s").collect()
        ids = {(r["chosen_id"], r["rejected_id"]) for r in out}
        assert ids == {(1, 5), (2, 4)}  # middle element 3 unpaired


class TestCusumChangepoint:
    def test_level_shift_located(self, spark):
        from dataengineer_spark.operators.events import cusum_changepoint
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            ("k", t0 + dt.timedelta(minutes=i), i, 1.0 if i < 5 else 9.0)
            for i in range(10)
        ]
        df = spark.createDataFrame(rows, ["k", "ts", "eid", "v"])
        out = cusum_changepoint(df, "k", "ts", "v", "eid").collect()[0]
        # mean = 5.0; cusum dips to its extreme right before the shift
        assert out["change_id"] == 4
        assert out["n"] == 10
        assert abs(out["cusum"] - (5 * 1.0 - 5 * 5.0)) < 1e-6

    def test_null_values_and_keys_excluded(self, spark):
        from dataengineer_spark.operators.events import cusum_changepoint
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            ("k", t0, 1, 2.0), ("k", t0 + dt.timedelta(1), 2, None),
            (None, t0, 3, 5.0), ("k", t0 + dt.timedelta(2), 4, 4.0),
        ]
        df = spark.createDataFrame(rows, ["k", "ts", "eid", "v"])
        out = cusum_changepoint(df, "k", "ts", "v", "eid").collect()
        assert len(out) == 1 and out[0]["n"] == 2

    def test_constant_series_zero_cusum(self, spark):
        from dataengineer_spark.operators.events import cusum_changepoint
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        rows = [("k", t0 + dt.timedelta(minutes=i), i, 3.5) for i in range(4)]
        df = spark.createDataFrame(rows, ["k", "ts", "eid", "v"])
        out = cusum_changepoint(df, "k", "ts", "v", "eid").collect()[0]
        assert out["cusum"] == 0.0
        assert out["change_id"] == 0  # all-zero ties break to earliest


class TestBenfordAudit:
    def test_digits_counted_and_zero_digit_rows_kept(self, spark):
        from dataengineer_spark.operators.quality import benford_audit

        df = spark.createDataFrame(
            [(1.0,), (12.5,), (19.0,), (250.0,), (0.0033,), (None,), (-4.0,), (0.0,)],
            ["x"],
        )
        rows = {r["digit"]: r for r in benford_audit(df, "x").collect()}
        assert set(rows) == set(range(1, 10))
        assert rows[1]["n"] == 3 and rows[2]["n"] == 1 and rows[3]["n"] == 1
        assert rows[9]["n"] == 0
        # -4.0, 0.0 and NULL are skipped, reported on every row
        assert rows[1]["n_skipped"] == 3
        assert abs(rows[1]["expected_p"] - 0.30103) < 1e-5
        total = sum(r["n"] for r in rows.values())
        assert abs(sum(r["observed_p"] for r in rows.values()) - 1.0) < 1e-5
        assert total == 5

    def test_all_skipped_gives_null_shares(self, spark):
        from dataengineer_spark.operators.quality import benford_audit

        df = spark.createDataFrame([(-1.0,), (None,)], ["x"])
        rows = benford_audit(df, "x").collect()
        assert len(rows) == 9
        assert all(r["n"] == 0 and r["observed_p"] is None for r in rows)
        assert all(r["n_skipped"] == 2 for r in rows)


class TestBradleyTerry:
    def test_dominant_player_rates_highest(self, spark):
        from dataengineer_spark.operators.aggregates import bradley_terry

        battles = []
        # a beats b 9/10, b beats c 9/10, a beats c 9/10
        for lo, hi in [("a", "b"), ("b", "c"), ("a", "c")]:
            battles += [(lo, hi, lo)] * 9 + [(lo, hi, hi)]
        df = spark.createDataFrame(battles, ["p1", "p2", "w"])
        out = bradley_terry(df, "p1", "p2", "w", iters=3).collect()
        order = [r["model"] for r in out]
        assert order == ["a", "b", "c"]
        assert out[0]["n_battles"] == 20 and out[0]["wins"] == 18
        total = sum(r["rating"] for r in out)
        assert abs(total - 100.0) < 1e-3

    def test_ties_self_play_and_unknown_winner_excluded(self, spark):
        from dataengineer_spark.operators.aggregates import bradley_terry

        battles = [
            ("a", "b", "a"), ("a", "b", "b"),
            ("a", "a", "a"),      # self-play: no signal
            ("a", "b", None),     # tie: no signal
            ("a", "b", "zzz"),    # winner neither side: no signal
        ]
        df = spark.createDataFrame(battles, ["p1", "p2", "w"])
        out = {r["model"]: r for r in bradley_terry(df, "p1", "p2", "w").collect()}
        assert out["a"]["n_battles"] == 2 and out["a"]["wins"] == 1
        assert abs(out["a"]["rating"] - out["b"]["rating"]) < 1e-9

    def test_zero_win_model_rates_zero(self, spark):
        from dataengineer_spark.operators.aggregates import bradley_terry

        df = spark.createDataFrame(
            [("a", "b", "a"), ("a", "b", "a")], ["p1", "p2", "w"]
        )
        out = {r["model"]: r for r in bradley_terry(df, "p1", "p2", "w").collect()}
        assert out["b"]["rating"] == 0.0
        assert out["a"]["rating"] == 100.0


class TestTrailingEwma:
    def test_constant_series_is_flat(self, spark):
        from dataengineer_spark.operators.windows import trailing_ewma
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [("k", i, 5.0) for i in range(10)], ["k", "i", "v"]
        )
        out = trailing_ewma(df, ["k"], [F.col("i").asc()], "v", 4, 0.5)
        assert all(r["ewma"] == 5.0 for r in out.collect())

    def test_recent_values_dominate(self, spark):
        from dataengineer_spark.operators.windows import trailing_ewma
        from pyspark.sql import functions as F

        rows = [("k", 1, 0.0), ("k", 2, 0.0), ("k", 3, 10.0)]
        df = spark.createDataFrame(rows, ["k", "i", "v"])
        out = {r["i"]: r["ewma"] for r in trailing_ewma(
            df, ["k"], [F.col("i").asc()], "v", 4, 0.5).collect()}
        # at i=3: weights newest->oldest 1, .5, .25 -> 10/(1.75)
        assert abs(out[3] - round(10.0 / 1.75, 6)) < 1e-9
        assert out[1] == 0.0

    def test_nulls_dropped_from_frame(self, spark):
        from dataengineer_spark.operators.windows import trailing_ewma
        from pyspark.sql import functions as F

        rows = [("k", 1, 2.0), ("k", 2, None), ("k", 3, 4.0)]
        df = spark.createDataFrame(rows, ["k", "i", "v"])
        out = {r["i"]: r["ewma"] for r in trailing_ewma(
            df, ["k"], [F.col("i").asc()], "v", 4, 0.5).collect()}
        # frame at i=3 is [2.0, 4.0]: ages 1,0 -> (2*.5 + 4*1)/1.5
        assert abs(out[3] - round(5.0 / 1.5, 6)) < 1e-9
        # the NULL row itself still gets the EMA of its trailing frame
        assert out[2] == 2.0

    def test_all_null_frame_is_null(self, spark):
        from dataengineer_spark.operators.windows import trailing_ewma
        from pyspark.sql import functions as F

        df = spark.createDataFrame([("k", 1, None)], "k string, i int, v double")
        out = trailing_ewma(df, ["k"], [F.col("i").asc()], "v", 4, 0.5)
        assert out.collect()[0]["ewma"] is None

    def test_validation(self, spark):
        import pytest
        from dataengineer_spark.operators.windows import trailing_ewma
        from pyspark.sql import functions as F

        df = spark.createDataFrame([("k", 1, 1.0)], ["k", "i", "v"])
        with pytest.raises(ValueError):
            trailing_ewma(df, ["k"], [F.col("i")], "v", 0, 0.5)
        with pytest.raises(ValueError):
            trailing_ewma(df, ["k"], [F.col("i")], "v", 4, 1.5)


class TestCurriculumReport:
    def test_phases_partition_in_order(self, spark):
        from dataengineer_spark.operators.preparation import curriculum_report

        rows = [("s", i, float(i)) for i in range(1, 9)]
        df = spark.createDataFrame(rows, ["src", "id", "d"])
        out = curriculum_report(df, "src", "id", "d", phases=4).collect()
        assert [r["phase"] for r in out] == [1, 2, 3, 4]
        assert all(r["n_docs"] == 2 for r in out)
        # phase spans are contiguous and increasing
        assert [(r["d_min"], r["d_max"]) for r in out] == [
            (1.0, 2.0), (3.0, 4.0), (5.0, 6.0), (7.0, 8.0)
        ]

    def test_uneven_split_larger_buckets_first(self, spark):
        from dataengineer_spark.operators.preparation import curriculum_report

        rows = [("s", i, float(i)) for i in range(5)]
        df = spark.createDataFrame(rows, ["src", "id", "d"])
        out = curriculum_report(df, "src", "id", "d", phases=3).collect()
        assert [r["n_docs"] for r in out] == [2, 2, 1]

    def test_null_difficulty_excluded(self, spark):
        from dataengineer_spark.operators.preparation import curriculum_report

        rows = [("s", 1, 1.0), ("s", 2, None), ("s", 3, 3.0)]
        df = spark.createDataFrame(rows, ["src", "id", "d"])
        out = curriculum_report(df, "src", "id", "d", phases=2).collect()
        assert sum(r["n_docs"] for r in out) == 2


class TestPairedTTest:
    def test_known_statistic(self, spark):
        from dataengineer_spark.operators.aggregates import paired_t_test

        # diffs: 1, 2, 3 -> mean 2, sd 1, t = 2/(1/sqrt(3))
        rows = [(1, 2.0, 1.0), (2, 4.0, 2.0), (3, 6.0, 3.0)]
        df = spark.createDataFrame(rows, ["u", "a", "b"])
        r = paired_t_test(df, "a", "b").collect()[0]
        assert r["n"] == 3 and r["dof"] == 2
        assert r["mean_diff"] == 2.0 and r["sd_diff"] == 1.0
        assert abs(r["t_stat"] - round(2.0 * 3 ** 0.5, 4)) < 1e-9

    def test_missing_side_excluded_and_zero_variance_null_t(self, spark):
        from dataengineer_spark.operators.aggregates import paired_t_test

        rows = [(1, 3.0, 1.0), (2, 3.0, 1.0), (3, None, 9.0), (4, 9.0, None)]
        df = spark.createDataFrame(rows, ["u", "a", "b"])
        r = paired_t_test(df, "a", "b").collect()[0]
        assert r["n"] == 2
        assert r["mean_diff"] == 2.0 and r["sd_diff"] == 0.0
        assert r["t_stat"] is None  # sd = 0: undefined, not garbage

    def test_single_pair_no_variance(self, spark):
        from dataengineer_spark.operators.aggregates import paired_t_test

        df = spark.createDataFrame([(1, 2.0, 1.0)], ["u", "a", "b"])
        r = paired_t_test(df, "a", "b").collect()[0]
        assert r["n"] == 1 and r["mean_diff"] == 1.0
        assert r["sd_diff"] is None and r["t_stat"] is None and r["dof"] is None

    def test_empty_input(self, spark):
        from dataengineer_spark.operators.aggregates import paired_t_test

        df = spark.createDataFrame([], "u int, a double, b double")
        r = paired_t_test(df, "a", "b").collect()[0]
        assert r["n"] == 0 and r["mean_diff"] is None


class TestPcaPowerTop:
    def test_line_data_recovers_axis_and_eigenvalue(self, spark):
        from dataengineer_spark.operators.similarity import pca_power_top

        # points on the first axis: t in -2..2 -> component = e1 (up to
        # sign), eigenvalue = var(t) = 10/4
        rows = [([float(t), 0.0, 0.0, 0.0],) for t in (-2, -1, 0, 1, 2)]
        df = spark.createDataFrame(rows, "embedding array<double>")
        out = {r["dim"]: r for r in pca_power_top(df, dim=4, iters=2).collect()}
        assert abs(abs(out[1]["loading"]) - 1.0) < 1e-6
        for d in (2, 3, 4):
            assert abs(out[d]["loading"]) < 1e-6
        assert abs(out[1]["eigenvalue"] - 2.5) < 1e-6

    def test_centering_removes_offset(self, spark):
        from dataengineer_spark.operators.similarity import pca_power_top

        # same line, shifted far off origin: centering must make the
        # result identical to the unshifted case
        rows = [([float(t) + 100.0, 50.0, 0.0, 0.0],) for t in (-2, -1, 0, 1, 2)]
        df = spark.createDataFrame(rows, "embedding array<double>")
        out = {r["dim"]: r for r in pca_power_top(df, dim=4, iters=2).collect()}
        assert abs(abs(out[1]["loading"]) - 1.0) < 1e-6
        assert abs(out[2]["loading"]) < 1e-6
        assert abs(out[1]["eigenvalue"] - 2.5) < 1e-6

    def test_dominant_direction_wins(self, spark):
        from dataengineer_spark.operators.similarity import pca_power_top

        # variance 8 on axis 2, variance 0.5 on axis 1
        rows = [([0.5, 2.0, 0.0, 0.0],), ([-0.5, -2.0, 0.0, 0.0],),
                ([0.5, -2.0, 0.0, 0.0],), ([-0.5, 2.0, 0.0, 0.0],)]
        df = spark.createDataFrame(rows, "embedding array<double>")
        out = {r["dim"]: r for r in pca_power_top(df, dim=4, iters=2).collect()}
        assert abs(out[2]["loading"]) > 0.99
        assert abs(out[1]["loading"]) < 0.1

    def test_null_vectors_excluded(self, spark):
        from dataengineer_spark.operators.similarity import pca_power_top

        rows = [([1.0, 0.0],), (None,), ([-1.0, 0.0],)]
        df = spark.createDataFrame(rows, "embedding array<double>")
        out = {r["dim"]: r for r in pca_power_top(df, dim=2, iters=2).collect()}
        # n = 2 after the NULL drop -> eigenvalue = (1^2 + 1^2)/(2-1) = 2
        assert abs(out[1]["eigenvalue"] - 2.0) < 1e-6


class TestIntervalProration:
    def test_split_across_two_months_conserves_value(self, spark):
        import datetime as dt
        from dataengineer_spark.operators.joins import interval_proration

        # Jan 30 .. Feb 3: 5 days total, 2 in Jan, 3 in Feb
        rows = [(1, dt.date(2024, 1, 30), dt.date(2024, 2, 3), 100.0)]
        df = spark.createDataFrame(rows, ["id", "s", "e", "v"])
        out = {r["month"]: r for r in interval_proration(
            df, "s", "e", "v", "id").collect()}
        assert abs(out["2024-01"]["allocated"] - 40.0) < 1e-9
        assert abs(out["2024-02"]["allocated"] - 60.0) < 1e-9
        assert out["2024-01"]["n_lines"] == 1

    def test_single_day_interval_whole_value(self, spark):
        import datetime as dt
        from dataengineer_spark.operators.joins import interval_proration

        rows = [(1, dt.date(2024, 3, 15), dt.date(2024, 3, 15), 12.34)]
        df = spark.createDataFrame(rows, ["id", "s", "e", "v"])
        out = interval_proration(df, "s", "e", "v", "id").collect()
        assert len(out) == 1
        assert abs(out[0]["allocated"] - 12.34) < 1e-9

    def test_invalid_rows_excluded(self, spark):
        import datetime as dt
        from dataengineer_spark.operators.joins import interval_proration

        rows = [
            (1, dt.date(2024, 1, 10), dt.date(2024, 1, 5), 10.0),   # e < s
            (2, None, dt.date(2024, 1, 5), 10.0),
            (3, dt.date(2024, 1, 5), dt.date(2024, 1, 6), None),
            (4, dt.date(2024, 1, 5), dt.date(2024, 1, 6), 8.0),
        ]
        df = spark.createDataFrame(rows, ["id", "s", "e", "v"])
        out = interval_proration(df, "s", "e", "v", "id").collect()
        assert len(out) == 1 and out[0]["n_lines"] == 1
        assert abs(out[0]["allocated"] - 8.0) < 1e-9

    def test_multi_row_monthly_rollup(self, spark):
        import datetime as dt
        from dataengineer_spark.operators.joins import interval_proration

        rows = [
            (1, dt.date(2024, 1, 1), dt.date(2024, 1, 31), 31.0),
            (2, dt.date(2024, 1, 31), dt.date(2024, 2, 1), 2.0),
        ]
        df = spark.createDataFrame(rows, ["id", "s", "e", "v"])
        out = {r["month"]: r for r in interval_proration(
            df, "s", "e", "v", "id").collect()}
        assert out["2024-01"]["n_lines"] == 2
        assert abs(out["2024-01"]["allocated"] - 32.0) < 1e-9
        assert abs(out["2024-02"]["allocated"] - 1.0) < 1e-9


class TestScoreCalibration:
    def test_ties_share_value_and_range(self, spark):
        from dataengineer_spark.operators.ranking import score_calibration

        rows = [("s", 1, 10.0), ("s", 2, 10.0), ("s", 3, 20.0), ("s", 4, 30.0)]
        df = spark.createDataFrame(rows, ["src", "id", "v"])
        out = {r["id"]: r["calibrated"] for r in score_calibration(
            df, "src", "id", "v").collect()}
        assert out[1] == out[2] == 0.5   # ties share cume_dist
        assert out[3] == 0.75 and out[4] == 1.0

    def test_groups_calibrate_independently(self, spark):
        from dataengineer_spark.operators.ranking import score_calibration

        rows = [("a", 1, 1.0), ("a", 2, 2.0), ("b", 3, 1000.0), ("b", 4, 2000.0)]
        df = spark.createDataFrame(rows, ["src", "id", "v"])
        out = {r["id"]: r["calibrated"] for r in score_calibration(
            df, "src", "id", "v").collect()}
        # same within-group position -> same calibrated value despite
        # wildly different raw scales (the whole point)
        assert out[1] == out[3] == 0.5
        assert out[2] == out[4] == 1.0

    def test_null_scores_excluded(self, spark):
        from dataengineer_spark.operators.ranking import score_calibration

        rows = [("s", 1, 5.0), ("s", 2, None)]
        df = spark.createDataFrame(rows, ["src", "id", "v"])
        out = score_calibration(df, "src", "id", "v").collect()
        assert len(out) == 1 and out[0]["calibrated"] == 1.0


class TestFutureEventLabels:
    def _mk(self, spark, rows):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        data = [
            (k, i, t0 + dt.timedelta(days=d)) for k, i, d in rows
        ]
        return spark.createDataFrame(data, ["u", "i", "ts"])

    def test_three_way_labels(self, spark):
        from dataengineer_spark.operators.preparation import (
            future_event_labels,
        )

        # u1: events at day 0 and day 3 (within 7d -> returned), then
        # day 3's horizon extends past data end (day 20) only if
        # 3+7 > 20? no -> next is none -> churned.  u2 at day 19:
        # 19+7 > 20 -> censored.
        df = self._mk(spark, [("u1", 1, 0), ("u1", 2, 3), ("u2", 3, 19),
                              ("u1", 4, 20)])
        out = {r["id"]: r["label"] for r in future_event_labels(
            df, "u", "ts", "i", 7 * 86400).collect()}
        assert out[1] == "returned"      # next u1 event 3 days later
        assert out[2] == "churned"       # next at day 20: 17 days gap
        assert out[3] == "censored"      # horizon passes observation end
        assert out[4] == "censored"      # last observed instant

    def test_boundary_exactly_at_horizon_counts(self, spark):
        from dataengineer_spark.operators.preparation import (
            future_event_labels,
        )

        df = self._mk(spark, [("u", 1, 0), ("u", 2, 7), ("u", 3, 30)])
        out = {r["id"]: r["label"] for r in future_event_labels(
            df, "u", "ts", "i", 7 * 86400).collect()}
        assert out[1] == "returned"  # gap == horizon: inclusive
        assert out[2] == "churned"   # next gap 23 days

    def test_null_keys_excluded_and_validation(self, spark):
        import datetime as dt
        import pytest
        from dataengineer_spark.operators.preparation import (
            future_event_labels,
        )

        t0 = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [(None, 1, t0), ("u", 2, t0)], ["u", "i", "ts"]
        )
        out = future_event_labels(df, "u", "ts", "i", 86400).collect()
        assert len(out) == 1
        with pytest.raises(ValueError):
            future_event_labels(df, "u", "ts", "i", 0)


class TestReviewFixesRound6Late:
    def test_benford_boundary_double_lands_in_skipped(self, spark):
        """A double a hair below a power of ten divides past it
        (floor gives 10); it must be tallied as skipped, not vanish."""
        from dataengineer_spark.operators.quality import benford_audit

        df = spark.createDataFrame(
            [(9.999999999999999e-06,), (25.0,)], ["x"]
        )
        rows = {r["digit"]: r for r in benford_audit(df, "x").collect()}
        assert sum(r["n"] for r in rows.values()) == 1
        assert rows[2]["n"] == 1
        assert rows[1]["n_skipped"] == 1  # boundary value counted here

    def test_paired_t_constant_inexact_diffs_no_nan(self, spark):
        """Float cancellation can drive the one-pass variance a few
        ulps negative; sd must clamp to 0 (t NULL), never NaN."""
        import math
        from dataengineer_spark.operators.aggregates import paired_t_test

        d = 1.3840774964442453
        df = spark.createDataFrame(
            [(i, d, 0.0) for i in range(3)], ["u", "a", "b"]
        )
        r = paired_t_test(df, "a", "b").collect()[0]
        assert r["sd_diff"] == 0.0 and not math.isnan(r["sd_diff"])
        assert r["t_stat"] is None

    def test_churn_observed_return_at_boundary_not_censored(self, spark):
        """A return OBSERVED within the horizon is 'returned' even when
        the horizon extends past the data end — censoring a knowable
        label would bias the retained distribution."""
        import datetime as dt
        from dataengineer_spark.operators.preparation import (
            future_event_labels,
        )

        t0 = dt.datetime(2024, 1, 1)
        rows = [("u", 1, t0 + dt.timedelta(days=19)),
                ("u", 2, t0 + dt.timedelta(days=20))]
        df = spark.createDataFrame(rows, ["u", "i", "ts"])
        out = {r["id"]: r["label"] for r in future_event_labels(
            df, "u", "ts", "i", 7 * 86400).collect()}
        assert out[1] == "returned"   # return observed 1 day later
        assert out[2] == "censored"   # genuinely unknowable

    def test_pca_ragged_vectors_excluded_from_centering(self, spark):
        """Short / NULL-element vectors must not deflate per-dimension
        means (mean denominator = global n, numerator = fewer rows)."""
        from dataengineer_spark.operators.similarity import pca_power_top

        rows = [([2.0, 1.0],), ([4.0, 1.0],), ([3.0],), ([5.0, None],)]
        df = spark.createDataFrame(rows, "embedding array<double>")
        out = {r["dim"]: r for r in pca_power_top(df, dim=2, iters=2).collect()}
        # only the two complete vectors participate: dim-2 values are
        # constant 1.0 -> zero variance on that axis, component = e1,
        # eigenvalue = var([2,4]) = 2
        assert abs(abs(out[1]["loading"]) - 1.0) < 1e-6
        assert abs(out[1]["eigenvalue"] - 2.0) < 1e-6

    def test_cusum_huge_values_no_bigint_wrap(self, spark):
        """Micro-unit sums past 2^63 must stay exact (decimal window
        sums), not wrap a BIGINT accumulator."""
        import datetime as dt
        from dataengineer_spark.operators.events import cusum_changepoint

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            ("k", t0 + dt.timedelta(minutes=i), i,
             9e11 if i < 10 else 9.1e11)
            for i in range(20)
        ]
        df = spark.createDataFrame(rows, ["k", "ts", "eid", "v"])
        out = cusum_changepoint(df, "k", "ts", "v", "eid").collect()[0]
        # level shift at i=10: extreme cusum right before it
        assert out["change_id"] == 9
        # cusum at i=9: 10*(9e11 - 9.05e11) = -5e10
        assert abs(out["cusum"] - (-5e10)) < 1.0


class TestConcentrationReport:
    def test_perfect_equality_gini_zero(self, spark):
        from dataengineer_spark.operators.quality import concentration_report
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(f"s{i}", 10) for i in range(5)], ["src", "w"]
        )
        r = concentration_report(df, "src", F.col("w")).collect()[0]
        assert r["gini"] == 0.0
        assert r["n_groups"] == 5 and r["total_weight"] == 50
        assert r["top_share"] == 0.2

    def test_total_concentration_approaches_one(self, spark):
        from dataengineer_spark.operators.quality import concentration_report
        from pyspark.sql import functions as F

        rows = [("a", 0), ("b", 0), ("c", 0), ("d", 1000)]
        df = spark.createDataFrame(rows, ["src", "w"])
        r = concentration_report(df, "src", F.col("w")).collect()[0]
        # all mass on 1 of 4 groups: G = (n-1)/n = 0.75
        assert abs(r["gini"] - 0.75) < 1e-9
        assert r["top_share"] == 1.0

    def test_multiple_rows_per_group_summed_null_group_excluded(self, spark):
        from dataengineer_spark.operators.quality import concentration_report
        from pyspark.sql import functions as F

        rows = [("a", 3), ("a", 7), ("b", 10), (None, 99), ("b", None)]
        df = spark.createDataFrame(rows, ["src", "w"])
        r = concentration_report(df, "src", F.col("w")).collect()[0]
        assert r["n_groups"] == 2 and r["total_weight"] == 20
        assert r["gini"] == 0.0  # 10 vs 10


class TestRocAucBy:
    def test_perfect_and_inverted_slices(self, spark):
        from dataengineer_spark.operators.aggregates import roc_auc_by
        from pyspark.sql import functions as F

        rows = (
            # slice a: perfect separation -> auc 1
            [("a", float(s), s >= 3) for s in range(6)]
            # slice b: perfectly inverted -> auc 0
            + [("b", float(s), s < 3) for s in range(6)]
        )
        df = spark.createDataFrame(rows, ["k", "score", "y"])
        out = {r["k"]: r for r in roc_auc_by(df, ["k"], "score", F.col("y")).collect()}
        assert out["a"]["auc"] == 1.0 and out["b"]["auc"] == 0.0
        assert out["a"]["n_pos"] == 3 and out["a"]["n_neg"] == 3

    def test_ties_half_credit_and_one_class_null(self, spark):
        from dataengineer_spark.operators.aggregates import roc_auc_by
        from pyspark.sql import functions as F

        rows = (
            # slice t: all scores equal -> every pair tied -> auc 0.5
            [("t", 1.0, True), ("t", 1.0, False), ("t", 1.0, True),
             ("t", 1.0, False)]
            # slice o: only positives -> undefined
            + [("o", 1.0, True), ("o", 2.0, True)]
        )
        df = spark.createDataFrame(rows, ["k", "score", "y"])
        out = {r["k"]: r for r in roc_auc_by(df, ["k"], "score", F.col("y")).collect()}
        assert out["t"]["auc"] == 0.5
        assert out["o"]["auc"] is None and out["o"]["n_neg"] == 0

    def test_matches_global_roc_auc_on_single_slice(self, spark):
        from dataengineer_spark.operators.aggregates import roc_auc, roc_auc_by
        from pyspark.sql import functions as F

        rows = [("x", float(s % 7) / 3.0, (s * 13) % 5 < 2) for s in range(40)]
        df = spark.createDataFrame(rows, ["k", "score", "y"])
        a = roc_auc(df, "score", F.col("y")).collect()[0]
        b = roc_auc_by(df, ["k"], "score", F.col("y")).collect()[0]
        assert a["auc"] == b["auc"]
        assert a["n_pos"] == b["n_pos"] and a["n_neg"] == b["n_neg"]


class TestSortedNeighborhoodPairs:
    def test_adjacent_names_paired_within_window(self, spark):
        from dataengineer_spark.operators.joins import (
            sorted_neighborhood_pairs,
        )
        from pyspark.sql import functions as F

        rows = [(1, "anna", "x"), (2, "annb", "x"), (3, "annc", "x"),
                (4, "zz", "x")]
        df = spark.createDataFrame(rows, ["id", "name", "blk"])
        out = sorted_neighborhood_pairs(
            df, "id", F.col("name"), window=2, coarse_key=F.col("blk")
        ).collect()
        pairs = {(r["id_a"], r["id_b"]) for r in out}
        # rank order anna<annb<annc<zz; window 2
        assert pairs == {(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)}
        gaps = {(r["id_a"], r["id_b"]): r["rank_gap"] for r in out}
        assert gaps[(1, 3)] == 2 and gaps[(1, 2)] == 1

    def test_coarse_blocks_never_cross(self, spark):
        from dataengineer_spark.operators.joins import (
            sorted_neighborhood_pairs,
        )
        from pyspark.sql import functions as F

        rows = [(1, "aa", "x"), (2, "ab", "y")]
        df = spark.createDataFrame(rows, ["id", "name", "blk"])
        out = sorted_neighborhood_pairs(
            df, "id", F.col("name"), window=3, coarse_key=F.col("blk")
        ).collect()
        assert out == []  # the documented recall trade

    def test_each_unordered_pair_once_and_null_keys_excluded(self, spark):
        from dataengineer_spark.operators.joins import (
            sorted_neighborhood_pairs,
        )
        from pyspark.sql import functions as F

        rows = [(1, "a", "x"), (2, "b", "x"), (3, None, "x")]
        df = spark.createDataFrame(rows, ["id", "name", "blk"])
        out = sorted_neighborhood_pairs(
            df, "id", F.col("name"), window=5, coarse_key=F.col("blk")
        ).collect()
        assert len(out) == 1
        assert (out[0]["id_a"], out[0]["id_b"]) == (1, 2)


class TestAucSharedCoreReviewFixes:
    def test_null_scores_contribute_no_pairs(self, spark):
        from dataengineer_spark.operators.aggregates import roc_auc_by
        from pyspark.sql import functions as F

        rows = [("k", None, False), ("k", 1.0, True), ("k", 0.5, False)]
        df = spark.createDataFrame(rows, "k string, score double, y boolean")
        r = roc_auc_by(df, ["k"], "score", F.col("y")).collect()[0]
        # without the NULL-score row: one pos above one neg -> AUC 1;
        # engines disagree on where NULL sorts, so it must be excluded
        assert r["auc"] == 1.0
        assert r["n_pos"] == 1 and r["n_neg"] == 1

    def test_global_one_class_reports_null(self, spark):
        from dataengineer_spark.operators.aggregates import roc_auc
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(1.0, True), (2.0, True)], "score double, y boolean"
        )
        r = roc_auc(df, "score", F.col("y")).collect()[0]
        assert r["auc"] is None and r["n_neg"] == 0


class TestEmbeddingOutlierReport:
    def test_planted_outlier_flagged_in_its_cell(self, spark):
        from dataengineer_spark.operators.similarity import (
            _centroids,
            embedding_outlier_report,
        )

        cents = _centroids(4, 2, seed=7)
        c0, c1 = cents
        import random

        rnd = random.Random(1)
        rows = []
        # 21 vectors tightly around centroid 0 (+tiny noise)
        for _ in range(21):
            rows.append(([x + rnd.uniform(-0.01, 0.01) for x in c0],))
        # planted outlier IN cell 0: dot(v, c0) = 0.1 > dot(v, c1)
        # (= 0.1*c0·c1 < 0.1), but |v| is dominated by a component
        # orthogonal to both centroids -> affinity ~0.1, far below the
        # cell's ~1.0 mean
        e = [1.0, 0.0, 0.0, 0.0]
        d01 = sum(a * b for a, b in zip(c0, c1))
        # Gram-Schmidt: c1 component orthogonal to c0
        u1 = [b - d01 * a for a, b in zip(c0, c1)]
        n1 = sum(x * x for x in u1) ** 0.5
        u1 = [x / n1 for x in u1]
        w = [
            e[i]
            - sum(ei * ci for ei, ci in zip(e, c0)) * c0[i]
            - sum(ei * ui for ei, ui in zip(e, u1)) * u1[i]
            for i in range(4)
        ]
        nw = sum(x * x for x in w) ** 0.5
        assert nw > 1e-6  # dim 4 > span{c0, c1}: an orthogonal dir exists
        v = [0.1 * c0[i] + 3.0 * w[i] / nw for i in range(4)]
        rows.append((v,))
        df = spark.createDataFrame(rows, "embedding array<double>")
        out = embedding_outlier_report(
            df, "embedding", dim=4, n_centroids=2, seed=7, z=2.0
        ).collect()
        cell0 = [r for r in out if r["n"] == 22]
        assert len(cell0) == 1  # all 22 rows share the majority cell
        assert cell0[0]["n_outliers"] == 1  # exactly the planted one

    def test_zero_norm_and_null_vectors_excluded(self, spark):
        from dataengineer_spark.operators.similarity import (
            embedding_outlier_report,
        )

        rows = [([1.0, 0.0],), ([0.0, 0.0],), (None,), ([0.9, 0.1],)]
        df = spark.createDataFrame(rows, "embedding array<double>")
        out = embedding_outlier_report(
            df, "embedding", dim=2, n_centroids=2, seed=7
        ).collect()
        assert sum(r["n"] for r in out) == 2

    def test_ragged_vectors_excluded_from_cell_moments(self, spark):
        """Short / NULL-element vectors must not inflate a cell's n
        while contributing nothing to its moment sums (the NULL-_sim
        bias: mean/std read low, the row itself can never be flagged)."""
        from dataengineer_spark.operators.similarity import (
            embedding_outlier_report,
        )

        rows = [([1.0, 0.0],), ([0.9, 0.1],), ([1.0],), ([1.0, None],)]
        df = spark.createDataFrame(rows, "embedding array<double>")
        out = embedding_outlier_report(
            df, "embedding", dim=2, n_centroids=2, seed=7
        ).collect()
        # only the two complete vectors participate anywhere
        assert sum(r["n"] for r in out) == 2
        assert all(r["mean_sim"] is not None for r in out)

    def test_single_member_cell_null_std(self, spark):
        from dataengineer_spark.operators.similarity import (
            embedding_outlier_report,
        )

        df = spark.createDataFrame([([1.0, 0.0],)], "embedding array<double>")
        out = embedding_outlier_report(
            df, "embedding", dim=2, n_centroids=2, seed=7
        ).collect()
        assert len(out) == 1
        assert out[0]["std_sim"] is None and out[0]["n_outliers"] == 0


class TestSeasonalAnomaly:
    def test_weekday_profile_not_aliased(self, spark):
        import datetime as dt
        from dataengineer_spark.operators.events import seasonal_anomaly

        # Mondays run at ~100, Sundays at ~10; one wild Monday at 200.
        # 12 baseline Mondays: the outlier is part of its own cell's
        # moments, and the max standardized deviate is (n-1)/sqrt(n) —
        # with too few points a z=3 flag is unreachable by construction
        rows = []
        eid = 0
        base = dt.datetime(2024, 1, 1)  # a Monday
        for w in range(12):
            rows.append(("k", base + dt.timedelta(weeks=w), eid,
                         100.0 + (w % 3) * 0.5)); eid += 1
            rows.append(("k", base + dt.timedelta(weeks=w, days=6), eid,
                         10.0 + (w % 3) * 0.5)); eid += 1
        rows.append(("k", base + dt.timedelta(weeks=12), eid, 200.0))
        df = spark.createDataFrame(rows, ["k", "ts", "eid", "v"])
        out = seasonal_anomaly(df, "k", "ts", "v", "eid", z=3.0).collect()
        # only the wild Monday flags; ordinary Sundays (10) are NORMAL
        # for their own cell despite being 10x below the Monday mean
        assert [r["id"] for r in out] == [eid]
        assert out[0]["dow"] == 2  # Spark: Monday = 2

    def test_small_cells_and_nulls_never_flag(self, spark):
        import datetime as dt
        from dataengineer_spark.operators.events import seasonal_anomaly

        t0 = dt.datetime(2024, 1, 1)
        rows = [("k", t0, 1, 5.0), ("k", t0 + dt.timedelta(days=7), 2, None),
                (None, t0, 3, 9.0)]
        df = spark.createDataFrame(rows, ["k", "ts", "eid", "v"])
        out = seasonal_anomaly(df, "k", "ts", "v", "eid").collect()
        assert out == []  # n=1 cell: no dispersion, no flags


class TestFunctionalDependencyReport:
    def test_clean_dependency_zero_violations(self, spark):
        from dataengineer_spark.operators.quality import (
            functional_dependency_report,
        )

        rows = [(1, "a"), (1, "a"), (2, "b"), (3, "c")]
        df = spark.createDataFrame(rows, ["k", "v"])
        r = functional_dependency_report(df, ["k"], "v").collect()[0]
        assert r["n_groups"] == 3 and r["n_violating"] == 0
        assert r["violation_rate"] == 0.0 and r["max_rhs_distinct"] == 1

    def test_null_rhs_counts_as_its_own_value(self, spark):
        from dataengineer_spark.operators.quality import (
            functional_dependency_report,
        )

        rows = [(1, "a"), (1, None), (2, None), (2, None)]
        df = spark.createDataFrame(rows, ["k", "v"])
        r = functional_dependency_report(df, ["k"], "v").collect()[0]
        # key 1 maps to {a, NULL}: violating; key 2 maps only to NULL:
        # one value, clean
        assert r["n_violating"] == 1 and r["max_rhs_distinct"] == 2

    def test_null_lhs_groups_excluded(self, spark):
        from dataengineer_spark.operators.quality import (
            functional_dependency_report,
        )

        rows = [(None, "a"), (None, "b"), (1, "x")]
        df = spark.createDataFrame(rows, ["k", "v"])
        r = functional_dependency_report(df, ["k"], "v").collect()[0]
        assert r["n_groups"] == 1 and r["n_violating"] == 0


class TestConversionLagReport:
    def _ev(self, spark, rows):
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        return spark.createDataFrame(
            [(u, t0 + dt.timedelta(hours=h), ty) for u, h, ty in rows],
            ["u", "ts", "ty"],
        )

    def test_first_touch_lag_percentiles(self, spark):
        from dataengineer_spark.operators.events import conversion_lag_report

        rows = [
            ("u1", 0, "signup"), ("u1", 1, "purchase"),
            ("u1", 5, "purchase"),              # only the FIRST counts
            ("u2", 0, "signup"), ("u2", 3, "purchase"),
            ("u3", 0, "signup"),                # never converts: no lag
            ("u4", 2, "purchase"), ("u4", 4, "signup"),  # purchase BEFORE
        ]
        df = self._ev(spark, rows)
        out = conversion_lag_report(
            df, "u", "ts", "ty", "signup", "purchase"
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert r["cohort"] == "2024-01" and r["n_converted"] == 2
        # lags 3600s and 10800s -> p50 = 7200 (interpolated midpoint)
        assert r["p50_lag"] == 7200.0
        assert r["p90_lag"] == 3600 + 0.9 * 7200  # rank interpolation

    def test_purchase_at_same_instant_not_counted(self, spark):
        from dataengineer_spark.operators.events import conversion_lag_report

        rows = [("u", 0, "signup"), ("u", 0, "purchase")]
        df = self._ev(spark, rows)
        out = conversion_lag_report(
            df, "u", "ts", "ty", "signup", "purchase"
        ).collect()
        assert out == []  # strictly-after semantics (funnel parity)


class TestPsiReport:
    def test_identical_cohorts_zero_psi(self, spark):
        from dataengineer_spark.operators.quality import psi_report
        from pyspark.sql import functions as F

        rows = [(float(v), s) for v in (5, 15, 25, 5, 15, 25)
                for s in (True, False)]
        df = spark.createDataFrame(rows, ["v", "side"])
        out = psi_report(df, "v", F.col("side"), [10.0, 20.0]).collect()
        assert sum(r["psi_term"] for r in out) == 0.0
        assert len(out) == 3  # under, mid, over

    def test_shifted_cohort_positive_psi_and_all_bins_kept(self, spark):
        from dataengineer_spark.operators.quality import psi_report
        from pyspark.sql import functions as F

        rows = [(5.0, True)] * 8 + [(25.0, True)] * 2 \
             + [(5.0, False)] * 2 + [(25.0, False)] * 8
        df = spark.createDataFrame(rows, ["v", "side"])
        out = psi_report(df, "v", F.col("side"), [10.0, 20.0]).collect()
        total = sum(r["psi_term"] for r in out)
        assert total > 0.5  # a gross shift alarms loudly
        # the untouched middle bin still has a row (floored shares)
        assert len(out) == 3

    def test_null_values_and_sides_excluded_validation(self, spark):
        import pytest
        from dataengineer_spark.operators.quality import psi_report
        from pyspark.sql import functions as F

        rows = [(1.0, True), (None, True), (2.0, None)]
        df = spark.createDataFrame(rows, "v double, side boolean")
        out = psi_report(df, "v", F.col("side"), [10.0]).collect()
        assert sum(r["n_a"] + r["n_b"] for r in out) == 1
        with pytest.raises(ValueError):
            psi_report(df, "v", F.col("side"), [20.0, 10.0])


class TestKAnonymityReport:
    def test_small_classes_counted(self, spark):
        from dataengineer_spark.operators.quality import k_anonymity_report

        rows = [("a", 1)] * 5 + [("b", 1)] * 2 + [("c", 2)]
        df = spark.createDataFrame(rows, ["q1", "q2"])
        r = k_anonymity_report(df, ["q1", "q2"], k=5).collect()[0]
        assert r["n_rows"] == 8 and r["n_classes"] == 3
        assert r["n_small_classes"] == 2 and r["rows_at_risk"] == 3
        assert r["min_class_size"] == 1
        assert abs(r["risk_share"] - 3 / 8) < 1e-9

    def test_null_quasi_rows_form_classes(self, spark):
        from dataengineer_spark.operators.quality import k_anonymity_report

        rows = [(None, 1), (None, 1), ("a", None)]
        df = spark.createDataFrame(rows, "q1 string, q2 int")
        r = k_anonymity_report(df, ["q1", "q2"], k=3).collect()[0]
        # (NULL,1) x2 and (a,NULL) x1: both classes exist, both small
        assert r["n_classes"] == 2 and r["rows_at_risk"] == 3

    def test_k_validation(self, spark):
        import pytest
        from dataengineer_spark.operators.quality import k_anonymity_report

        df = spark.createDataFrame([("a",)], ["q1"])
        with pytest.raises(ValueError):
            k_anonymity_report(df, ["q1"], k=1)

    def test_empty_input_zero_counts_null_extrema(self, spark):
        """Count-like outputs coalesce to 0 on empty input (the
        functional_dependency_report contract — a `n_small_classes > 0`
        consumer must not go quiet on NULL); min/share stay NULL."""
        from dataengineer_spark.operators.quality import k_anonymity_report

        df = spark.createDataFrame([], "q1 string, q2 int")
        r = k_anonymity_report(df, ["q1", "q2"], k=5).collect()[0]
        assert r["n_rows"] == 0 and r["n_classes"] == 0
        assert r["n_small_classes"] == 0 and r["rows_at_risk"] == 0
        assert r["min_class_size"] is None and r["risk_share"] is None


class TestBurstinessReport:
    def test_metronome_vs_bursty(self, spark):
        import datetime as dt
        from dataengineer_spark.operators.events import burstiness_report

        t0 = dt.datetime(2024, 1, 1)
        rows = [("tick", t0 + dt.timedelta(seconds=60 * i), i)
                for i in range(10)]
        # bursty: 8 events in one minute, then a day gap, repeated
        eid = 100
        for b in range(3):
            for j in range(4):
                rows.append(("burst",
                             t0 + dt.timedelta(days=b, seconds=10 * j), eid))
                eid += 1
        df = spark.createDataFrame(rows, ["k", "ts", "eid"])
        out = {r["key"]: r for r in burstiness_report(
            df, "k", "ts", "eid").collect()}
        assert out["tick"]["cv"] == 0.0          # perfect metronome
        assert out["burst"]["cv"] > 1.5          # day gaps among 10s gaps
        assert out["tick"]["mean_gap_s"] == 60.0

    def test_short_series_null_cv(self, spark):
        import datetime as dt
        from dataengineer_spark.operators.events import burstiness_report

        t0 = dt.datetime(2024, 1, 1)
        rows = [("k", t0, 1), ("k", t0 + dt.timedelta(seconds=30), 2)]
        df = spark.createDataFrame(rows, ["k", "ts", "eid"])
        out = burstiness_report(df, "k", "ts", "eid").collect()[0]
        assert out["n_gaps"] == 1 and out["cv"] is None
        assert out["mean_gap_s"] == 30.0


class TestSqlExprTwins:
    """Round-11: the similarity vector folds build as ONE parsed SQL
    expression (plan-BUILD py4j time was the majority of several E3
    query walls).  Each builder is pinned value-for-value against a
    pure-Python left fold over a seeded 64-dim frame, plus a zero
    vector and a NULL vector."""

    def _frame(self, spark):
        import random

        rnd = random.Random(3)
        rows = [
            (i, [rnd.uniform(-1, 1) for _ in range(64)]) for i in range(120)
        ]
        return spark.createDataFrame(
            rows, "vec_id int, embedding array<double>"
        )

    @staticmethod
    def _dot_py(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def _reference(self, v, cents, pairs, planes, mat):
        """Python left folds with the builders' float-op order."""
        s = sim_ops
        if v is None:
            return dict.fromkeys(
                ["dot", "l2_norm", "sqdist", "lsh_bucket", "project"]
            ) | {
                # every score is NULL, so the struct max falls to the
                # cell tie-break: the highest id
                "nearest_cell": len(cents) - 1,
                "nearest_cell_of": max(cid for cid, _ in pairs),
            }
        q = cents[0]
        sq = 0.0
        for x, y in zip(v, q):
            sq = sq + (x - y) * (x - y)
        bucket = sum(
            1 << i for i, t in enumerate(s.project_py(v, planes)) if t > 0
        )
        return {
            "dot": self._dot_py(v, q),
            "l2_norm": math.sqrt(self._dot_py(v, v)),
            "sqdist": sq,
            "lsh_bucket": bucket,
            "nearest_cell": max(
                (self._dot_py(v, c), i) for i, c in enumerate(cents)
            )[1],
            "nearest_cell_of": max(
                (self._dot_py(v, c), cid) for cid, c in pairs
            )[1],
            "project": s.project_py(v, mat),
        }

    def _check(self, spark, rows):
        from dataengineer_spark.tuning import sql_literal

        s = sim_ops
        df = self._frame(spark).unionByName(
            spark.createDataFrame(rows, "vec_id int, embedding array<double>")
        )
        cents = s._centroids(64, 16, seed=7)
        # non-positional ids: the assignment must return the id, not the index
        pairs = [(3 * i + 1, c) for i, c in enumerate(cents)]
        planes = s._hyperplanes(64, 8, seed=42)
        mat = s.random_projection_matrix(64, 16, seed=17)
        v = "CAST(`embedding` AS ARRAY<DOUBLE>)"
        q = sql_literal(cents[0])
        got = df.select(
            "vec_id",
            "embedding",
            s.dot(v, q).alias("dot"),
            s.l2_norm(v).alias("l2_norm"),
            s.sqdist(v, q).alias("sqdist"),
            s.lsh_bucket(v, planes).alias("lsh_bucket"),
            s.nearest_cell(v, cents).alias("nearest_cell"),
            s.nearest_cell_of(v, pairs).alias("nearest_cell_of"),
            s.project(v, mat).alias("project"),
        ).collect()
        assert len(got) == 120 + len(rows)
        for r in got:
            want = self._reference(r["embedding"], cents, pairs, planes, mat)
            for name, w in want.items():
                assert r[name] == w, (name, r["vec_id"], r[name], w)

    def test_builders_match_python_reference(self, spark):
        # the zero vector ties every centroid score at 0.0 → highest cell
        self._check(spark, [(120, [0.0] * 64)])

    def test_null_vector_pins(self, spark):
        # NULL in, NULL out — except the two cell assignments, which
        # return the highest cell id (documented, harmless downstream)
        self._check(spark, [(121, None)])

    def test_pq_encode_matches_column_builder(self, spark):
        # the fused pq_encode builder against a pure-Python encode with
        # its float-op order: per subspace, left-fold dots minus the
        # half-norms, argmax with ties to the lower index
        from dataengineer_spark.operators import similarity as s

        df = self._frame(spark)
        cb = s.pq_codebook(64, m=8, ksub=16, seed=11)
        dsub = len(cb[0][0])

        def encode(v):
            codes = []
            for j, cbk in enumerate(cb):
                sub = v[j * dsub:(j + 1) * dsub]
                scores = [
                    self._dot_py(sub, c) - s._half_sqnorm(c) for c in cbk
                ]
                codes.append(
                    max(range(len(cbk)), key=lambda i: (scores[i], -i))
                )
            return codes

        got = s.pq_encode(df, cb, out="new").select("embedding", "new")
        for r in got.collect():
            assert r["new"] == encode(r["embedding"]), r["new"]

    def test_simhash_matches_python_reference(self, spark):
        import re
        from functools import reduce

        from dataengineer_spark.operators.dedup import (
            _MERSENNE, _affine_params, simhash64,
        )
        from dataengineer_spark.operators.preparation import _POLY_MOD

        rows = [
            (i, f"the quick brown fox {i} jumps\tover  lazy dog {i * 7 % 13}")
            for i in range(120)
        ]
        rows += [(120, ""), (121, "   "), (122, "one"), (123, "a\n b \t")]
        df = spark.createDataFrame(rows, "id int, t string")
        # Java regex \s: the split/trim the SQL form applies
        ws = "[ \t\n\x0b\f\r]+"
        tokens = {
            i: re.split(ws, re.sub(f"^{ws}|{ws}$", "", t)) for i, t in rows
        }
        vocab = sorted({w for ts in tokens.values() for w in ts})
        xx = dict(
            spark.createDataFrame([(w,) for w in vocab], "w string")
            .select("w", F.xxhash64("w"))
            .collect()
        )
        params = _affine_params(64, seed=7)

        def poly(w):
            return reduce(lambda acc, ch: (acc * 31 + ord(ch)) % _POLY_MOD, w, 0)

        def bits(w, portable):
            if portable:
                h = poly(w)
                return [((a * h + b) % _MERSENNE) % 2 * 2 - 1 for a, b in params]
            return [((xx[w] >> j) & 1) * 2 - 1 for j in range(64)]

        def simhash(ts, portable):
            counts = [0] * 64
            for w in ts:
                counts = [c + b for c, b in zip(counts, bits(w, portable))]
            low = sum(1 << j for j in range(63) if counts[j] > 0)
            return low - (1 << 63) if counts[63] > 0 else low

        for portable in (True, False):
            got = dict(
                df.select("id", simhash64("t", portable=portable)).collect()
            )
            want = {i: simhash(ts, portable) for i, ts in tokens.items()}
            assert got == want, f"portable={portable}"
