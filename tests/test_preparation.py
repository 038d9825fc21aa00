"""Training-data preparation + JSON + new aggregate operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataengineer_spark.functions.json_ops import json_get_long, parse_json
from dataengineer_spark.operators import aggregates as agg_ops
from dataengineer_spark.operators.preparation import (
    explode_words,
    stratified_cap,
    train_test_split,
    word_counts,
)


class TestSplit:
    def test_split_is_deterministic_and_complete(self, spark):
        df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
        a = train_test_split(df, "doc_id")
        b = train_test_split(df.repartition(7), "doc_id")  # layout-independent
        ca = {r["split"]: r["n"] for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()}
        cb = {r["split"]: r["n"] for r in b.groupBy("split").agg(F.count("*").alias("n")).collect()}
        assert ca == cb
        assert sum(ca.values()) == 1000
        assert ca["train"] > ca["valid"] and ca["train"] > ca["test"]

    def test_same_key_same_split(self, spark):
        df = spark.createDataFrame([(5,), (5,), (5,)], "doc_id long")
        assert train_test_split(df, "doc_id").select("split").distinct().count() == 1


class TestStratifiedAndWords:
    def test_cap_per_group(self, spark):
        df = spark.createDataFrame(
            [(i, "a" if i % 2 == 0 else "b") for i in range(20)], "id long, g string"
        )
        out = stratified_cap(df, ["g"], [F.col("id").asc()], 3)
        counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
        assert counts == {"a": 3, "b": 3}

    def test_word_counts(self, spark):
        df = spark.createDataFrame([("A b a",), ("b c",)], "text string")
        out = {r["word"]: r["n"] for r in word_counts(df, "text").collect()}
        assert out == {"a": 2, "b": 2, "c": 1}

    def test_explode_keeps_columns(self, spark):
        df = spark.createDataFrame([(1, "x y")], "id long, text string")
        rows = explode_words(df, "text").collect()
        assert [(r["id"], r["word"]) for r in rows] == [(1, "x"), (1, "y")]


class TestJson:
    def test_get_and_cast(self, spark):
        df = spark.createDataFrame(
            [('{"k": 87, "s": "hi"}',), ("not json",), (None,)], "props string"
        )
        rows = df.select(json_get_long("props", "k").alias("k")).collect()
        assert rows[0]["k"] == 87
        assert rows[1]["k"] is None and rows[2]["k"] is None

    def test_parse_json_struct(self, spark):
        df = spark.createDataFrame([('{"k": 3}',)], "props string")
        out = parse_json(df, "props", "k long").select("_json.k").first()
        assert out["k"] == 3


class TestNewAggregates:
    def test_pivot_unpivot_roundtrip(self, spark):
        df = spark.createDataFrame(
            [("r", "O", 1.0), ("r", "F", 2.0), ("n", "O", 3.0)], "k string, s string, v double"
        )
        wide = agg_ops.pivot_agg(df, "k", "s", ["O", "F"], F.sum("v"))
        assert {r["k"]: (r["O"], r["F"]) for r in wide.collect()} == {
            "r": (1.0, 2.0), "n": (3.0, None),
        }
        tall = agg_ops.unpivot(wide, ["k"], ["O", "F"], "s", "v")
        assert tall.count() == 4  # includes the NULL cell

    def test_distinct_and_percentile(self, spark):
        df = spark.createDataFrame(
            [("a", 1, 10.0), ("a", 1, 20.0), ("a", 2, 30.0)], "g string, k int, v double"
        )
        d = agg_ops.distinct_agg(df, ["g"], "k", "nk").first()
        assert d["nk"] == 2
        p = agg_ops.percentiles(df, ["g"], "v", [0.5]).first()
        assert p["p50"] == 20.0


class TestPackSequences:
    def test_packs_respect_budget_and_order(self, spark):
        from dataengineer_spark.operators.preparation import pack_sequences

        df = spark.createDataFrame(
            [(i, 100) for i in range(10)], "doc_id long, tokens long"
        )
        out = pack_sequences(df, "doc_id", "tokens", budget=250, n_buckets=1)
        rows = sorted(
            (r["doc_id"], r["pack_id"]) for r in out.collect()
        )
        # concat-and-chunk assignment: each doc joins the bin containing its
        # starting offset (0,100,...,900 → offset//250)
        packs = [p for _, p in rows]
        assert packs == [0, 0, 0, 1, 1, 2, 2, 2, 3, 3]

    def test_oversized_doc_owns_a_bin(self, spark):
        from dataengineer_spark.operators.preparation import pack_sequences

        df = spark.createDataFrame(
            [(1, 50), (2, 900), (3, 50)], "doc_id long, tokens long"
        )
        out = {r["doc_id"]: r["pack_id"] for r in pack_sequences(
            df, "doc_id", "tokens", budget=100, n_buckets=1).collect()}
        assert out[1] == 0 and out[2] == 0  # doc 2 starts in (and overflows) pack 0
        assert out[3] == 9  # resumes past the big doc's cumulative offset

    def test_deterministic_across_partitionings(self, spark):
        from dataengineer_spark.operators.preparation import pack_sequences

        df = spark.createDataFrame(
            [(i, 10 * (i % 7 + 1)) for i in range(100)], "doc_id long, tokens long"
        )
        a = {r["doc_id"]: r["pack_id"] for r in pack_sequences(
            df.repartition(1), "doc_id", "tokens", 64).collect()}
        b = {r["doc_id"]: r["pack_id"] for r in pack_sequences(
            df.repartition(13), "doc_id", "tokens", 64).collect()}
        assert a == b


class TestMixtureSample:
    def test_rates_zero_and_one(self, spark):
        from dataengineer_spark.operators.preparation import mixture_sample

        df = spark.createDataFrame(
            [(i, "books" if i % 2 == 0 else "web") for i in range(200)],
            "doc_id long, src string",
        )
        kept = mixture_sample(df, "doc_id", "src", {"books": 1.0, "web": 0.0})
        rows = kept.collect()
        assert len(rows) == 100
        assert all(r["src"] == "books" for r in rows)

    def test_default_rate_applies_to_unlisted_domains(self, spark):
        from dataengineer_spark.operators.preparation import mixture_sample

        df = spark.createDataFrame(
            [(i, "other") for i in range(1000)], "doc_id long, src string"
        )
        n = mixture_sample(df, "doc_id", "src", {}, default_rate=0.3).count()
        assert 200 < n < 400  # hash-uniform ≈ 300

    def test_deterministic(self, spark):
        from dataengineer_spark.operators.preparation import mixture_sample

        df = spark.createDataFrame(
            [(i, "w") for i in range(500)], "doc_id long, src string"
        )
        a = {r["doc_id"] for r in mixture_sample(df, "doc_id", "src", {"w": 0.5}).collect()}
        b = {r["doc_id"] for r in mixture_sample(
            df.repartition(7), "doc_id", "src", {"w": 0.5}).collect()}
        assert a == b


class TestNgramOverlap:
    def test_counts_distinct_overlapping_grams(self, spark):
        from dataengineer_spark.operators.preparation import ngram_overlap

        docs = spark.createDataFrame(
            [(1, "a b c d e"), (2, "x y z w v"), (3, "too short")],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(9, "q a b c d e r")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in ngram_overlap(
            docs, bench, "text", "doc_id", n=3).collect()}
        # doc 1 trigrams: abc,bcd,cde — all inside the benchmark text
        assert out[1]["n_hits"] == 3 and out[1]["contaminated"]
        assert out[2]["n_hits"] == 0 and not out[2]["contaminated"]
        assert out[3]["n_grams"] == 0 and not out[3]["contaminated"]

    def test_repeated_gram_counted_once(self, spark):
        from dataengineer_spark.operators.preparation import ngram_overlap

        docs = spark.createDataFrame(
            [(1, "a b a b a b")], "doc_id long, text string"
        )
        bench = spark.createDataFrame([(9, "a b a")], "doc_id long, text string")
        r = ngram_overlap(docs, bench, "text", "doc_id", n=3).first()
        # doc grams: 'a b a' x2, 'b a b' x2 → distinct hits = 1 ('a b a')
        assert r["n_grams"] == 4 and r["n_hits"] == 1


class TestChunking:
    def test_chunk_windows_cover_and_overlap(self, spark):
        from dataengineer_spark.operators.preparation import chunk_documents

        text = " ".join(f"w{i}" for i in range(1, 11))  # 10 tokens
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        rows = sorted(
            chunk_documents(df, chunk_tokens=8, overlap=4).collect(),
            key=lambda r: r["chunk_id"],
        )
        # stride 4: starts 1, 5; start 9's predecessor already reached 10
        assert [(r["start_token"], r["n_tokens"]) for r in rows] == [(1, 8), (5, 6)]
        assert rows[0]["chunk_text"].split()[:4] == ["w1", "w2", "w3", "w4"]
        assert rows[1]["chunk_text"].split() == [f"w{i}" for i in range(5, 11)]

    def test_chunk_short_and_empty_docs(self, spark):
        from dataengineer_spark.operators.preparation import chunk_documents

        df = spark.createDataFrame(
            [(1, "only three words"), (2, ""), (3, "   "), (4, None)],
            "doc_id long, text string",
        )
        rows = chunk_documents(df, chunk_tokens=8, overlap=4).collect()
        # short doc -> one short chunk; empty/whitespace/null -> nothing
        assert len(rows) == 1
        r = rows[0]
        assert (r["id"], r["chunk_id"], r["n_tokens"]) == (1, 1, 3)
        assert r["chunk_text"] == "only three words"

    def test_chunk_overlap_validation(self, spark):
        import pytest

        from dataengineer_spark.operators.preparation import chunk_documents

        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError, match="overlap"):
            chunk_documents(df, chunk_tokens=4, overlap=4)


class TestBloomContamination:
    def test_empty_benchmark_no_hits_no_crash(self, spark):
        # an all-zero mask types its literal small; the probe must still
        # getbit positions >= 32 (explicit BIGINT cast) and return zeros
        from dataengineer_spark.operators.preparation import (
            bloom_contamination,
        )

        docs = spark.createDataFrame(
            [(1, "a b c d e f g h i j")], "doc_id long, text string"
        )
        bench = spark.createDataFrame(
            [(9, "too short")], "doc_id long, text string"
        )  # no 8-grams -> empty bitset
        row = bloom_contamination(
            docs, bench, "text", "doc_id", n=8
        ).first()
        assert row["n_bloom_hits"] == 0 and not row["maybe_contaminated"]

    def test_no_false_negatives_and_fp_sanity(self, spark):
        from dataengineer_spark.operators.preparation import (
            bloom_contamination,
            ngram_overlap,
        )

        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon"),   # contains bench gram
                (2, "one two three four five"),          # clean
                (3, "alpha beta gamma delta zeta"),      # overlapping prefix
                (4, "totally different words here now"), # clean
            ],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(0, "alpha beta gamma delta")], "doc_id long, text string"
        )
        exact = {
            r["doc_id"]: r["n_hits"]
            for r in ngram_overlap(docs, bench, "text", "doc_id", n=4).collect()
        }
        bloom = {
            r["doc_id"]: r["n_bloom_hits"]
            for r in bloom_contamination(
                docs, bench, "text", "doc_id", n=4
            ).collect()
        }
        # guarantee: bloom never misses a true hit
        for d, n in exact.items():
            assert bloom[d] >= n, (d, bloom[d], n)
        # at m=2^18 with 1 bench gram, false positives are ~impossible
        assert bloom == exact

    def test_tiny_bitset_forces_false_positives_never_negatives(self, spark):
        from dataengineer_spark.operators.preparation import (
            bloom_contamination,
            ngram_overlap,
        )

        # m=8 bits and 30 bench grams saturate the filter: everything is
        # (rightly or wrongly) flagged, proving the one-sided error shape
        docs = spark.createDataFrame(
            [(i, f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(20)],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(0, " ".join(f"w{i}" for i in range(40, 70)))],
            "doc_id long, text string",
        )
        exact = {
            r["doc_id"]: r["n_hits"]
            for r in ngram_overlap(docs, bench, "text", "doc_id", n=2).collect()
        }
        bloom = {
            r["doc_id"]: r["n_bloom_hits"]
            for r in bloom_contamination(
                docs, bench, "text", "doc_id", n=2, k=2, m=8
            ).collect()
        }
        for d, n in exact.items():
            assert bloom[d] >= n
        assert sum(bloom.values()) > sum(exact.values())  # FPs exist at m=8


class TestBloomExactContamination:
    def test_fused_equals_join_of_parts(self, spark):
        # round-11: the fused bloom+exact pass must be row-identical to
        # bloom_contamination ⋈ ngram_overlap on the id (the composition
        # q_prep_bloom_decontaminate shipped before the fusion)
        from dataengineer_spark.operators.preparation import (
            bloom_contamination,
            bloom_exact_contamination,
            ngram_overlap,
        )

        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon"),
                (2, "one two three four five"),
                (3, "alpha beta gamma delta zeta"),
                (4, "totally different words here now"),
                (5, ""),  # no grams: n_grams 0, no hits
            ],
            "doc_id long, text string",
        )
        bench = docs.where("doc_id = 1 or doc_id = 3")
        fused = {
            r["doc_id"]: (
                r["n_grams"], r["n_hits"], r["contaminated"], r["no_false_neg"]
            )
            for r in bloom_exact_contamination(
                docs, bench, "text", "doc_id", n=4
            ).collect()
        }
        bloom = bloom_contamination(docs, bench, "text", "doc_id", n=4)
        exact = ngram_overlap(docs, bench, "text", "doc_id", n=4).select(
            "doc_id", "n_hits", "contaminated"
        )
        from pyspark.sql import functions as SF

        joined = {
            r["doc_id"]: (
                r["n_grams"], r["n_hits"], r["contaminated"], r["no_false_neg"]
            )
            for r in bloom.join(exact, "doc_id")
            .select(
                "doc_id", "n_grams", "n_hits", "contaminated",
                (SF.col("n_bloom_hits") >= SF.col("n_hits")).alias(
                    "no_false_neg"
                ),
            )
            .collect()
        }
        assert fused == joined and len(fused) == 5


class TestPpsSample:
    def test_selection_is_weight_proportional_and_deterministic(self, spark):
        from dataengineer_spark.operators.preparation import pps_systematic_sample

        # one heavy row among light ones: the heavy row must always be in
        rows = [(i, 10) for i in range(100)] + [(100, 5000)]
        df = spark.createDataFrame(rows, "doc_id long, w long")
        got = {r["doc_id"] for r in pps_systematic_sample(df, "doc_id", "w", n=10).collect()}
        assert 100 in got
        assert len(got) <= 10
        # deterministic: second run picks the identical set
        again = {r["doc_id"] for r in pps_systematic_sample(df, "doc_id", "w", n=10).collect()}
        assert got == again

    def test_partitioning_does_not_change_the_sample(self, spark):
        from dataengineer_spark.operators.preparation import pps_systematic_sample

        rows = [(i, (i * 37) % 50 + 1) for i in range(500)]
        df = spark.createDataFrame(rows, "doc_id long, w long")
        a = {r["doc_id"] for r in pps_systematic_sample(df, "doc_id", "w", n=20).collect()}
        b = {
            r["doc_id"]
            for r in pps_systematic_sample(
                df.repartition(7), "doc_id", "w", n=20, n_part=3
            ).collect()
        }
        assert a == b

    def test_returned_frame_stable_across_reevaluations(self, spark):
        """The returned frame is LAZY (no driver round-trip since the
        localCheckpoint rewrite) — re-evaluating it must yield the
        identical sample, i.e. the checkpointed `_pid` assignment can
        never be recomputed differently between actions."""
        from dataengineer_spark.operators.preparation import pps_systematic_sample

        rows = [(i, (i * 17) % 30 + 1) for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id long, w long").repartition(5)
        out = pps_systematic_sample(df, "doc_id", "w", n=15, n_part=4)
        a = sorted((r["doc_id"], r["weight"]) for r in out.collect())
        b = sorted((r["doc_id"], r["weight"]) for r in out.collect())
        assert a == b and len(a) > 0

    def test_zero_and_negative_weights_are_excluded(self, spark):
        from dataengineer_spark.operators.preparation import pps_systematic_sample

        df = spark.createDataFrame(
            [(1, 0), (2, -5), (3, 100)], "doc_id long, w long"
        )
        got = [r["doc_id"] for r in pps_systematic_sample(df, "doc_id", "w", n=2).collect()]
        assert got == [3]


class TestShardExport:
    def test_manifest_matches_input_and_files_per_shard(self, spark, tmp_path):
        from dataengineer_spark.operators.preparation import shard_export

        df = spark.createDataFrame(
            [(i, f"doc {i} has some words") for i in range(200)],
            "doc_id long, text string",
        )
        path = str(tmp_path / "shards")
        manifest = shard_export(df, path, n_shards=8, portable_hash=True)
        rows = manifest.collect()
        assert sum(r["n_docs"] for r in rows) == 200
        assert {r["shard"] for r in rows} <= set(range(8))
        # every doc contributes 5 whitespace tokens
        assert sum(r["n_tokens"] for r in rows) == 200 * 5
        # one data file per shard directory (repartition co-located it)
        import glob

        for r in rows:
            files = glob.glob(f"{path}/shard={r['shard']}/*.parquet")
            assert len(files) == 1

    def test_assignment_is_stable_across_partitionings(self, spark):
        from dataengineer_spark.operators.preparation import assign_shards

        df = spark.createDataFrame(
            [(i, "t") for i in range(100)], "doc_id long, text string"
        )
        a = {
            r["doc_id"]: r["shard"]
            for r in assign_shards(df, 16).collect()
        }
        b = {
            r["doc_id"]: r["shard"]
            for r in assign_shards(df.repartition(7), 16).collect()
        }
        assert a == b


class TestMixtureUpsample:
    def test_integer_and_fractional_factors(self, spark):
        from dataengineer_spark.operators.preparation import (
            SPLIT_MULT, UPSAMPLE_SALT, mixture_upsample,
        )

        rows = [(i, "books" if i % 2 == 0 else "web") for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        out = mixture_upsample(
            df, "doc_id", "source", {"books": 2.5, "web": 0.0},
        ).collect()
        # web rows vanish (factor 0); books rows appear 2 or 3 times
        assert all(r["source"] == "books" for r in out)
        from collections import Counter

        copies = Counter(r["doc_id"] for r in out)
        assert set(copies.values()) <= {2, 3}
        # fractional third copy decided by the hash-bucket rule, exactly
        for doc_id, n in copies.items():
            extra = (
                1
                if (doc_id * SPLIT_MULT + UPSAMPLE_SALT) % 100_000 < 50_000
                else 0
            )
            assert n == 2 + extra
        # copy_n enumerates 1..n per row
        seen = {}
        for r in out:
            seen.setdefault(r["doc_id"], set()).add(r["copy_n"])
        assert all(s == set(range(1, copies[d] + 1)) for d, s in seen.items())

    def test_default_factor_passthrough(self, spark):
        from dataengineer_spark.operators.preparation import mixture_upsample

        df = spark.createDataFrame([(1, "x"), (2, "y")], "doc_id long, source string")
        out = mixture_upsample(df, "doc_id", "source", {}).collect()
        assert len(out) == 2 and all(r["copy_n"] == 1 for r in out)


class TestCorpusBudgetReport:
    def test_shares_and_cumulative(self, spark):
        from dataengineer_spark.operators.preparation import corpus_budget_report

        rows = [
            (1, "a", "one two three four"),   # 4 tokens
            (2, "a", "five six"),             # 2
            (3, "b", "seven eight nine"),     # 3
            (4, "c", "ten"),                  # 1
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        out = corpus_budget_report(df, "source").collect()
        assert [r["domain"] for r in out] == ["a", "b", "c"]
        assert [r["n_tokens"] for r in out] == [6, 3, 1]
        assert out[0]["token_share"] == 0.6
        assert out[-1]["cum_token_share"] == 1.0

    def test_null_text_counts_zero(self, spark):
        from dataengineer_spark.operators.preparation import corpus_budget_report

        df = spark.createDataFrame(
            [(1, "a", None), (2, "a", "x y")], "doc_id long, source string, text string"
        )
        row = corpus_budget_report(df, "source").collect()[0]
        assert row["n_docs"] == 2 and row["n_tokens"] == 2


class TestTemperatureBudgetMixture:
    def _df(self, spark):
        # head domain 'a' has 10x the tokens of tail 'b'
        rows = [(i, "a", "w " * 10) for i in range(100)] + [
            (1000 + i, "b", "w " * 10) for i in range(10)
        ] + [(2000, None, "w w w")]
        return spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )

    def test_budgets_respected_and_tail_upweighted(self, spark):
        from dataengineer_spark.operators.preparation import (
            temperature_budget_mixture,
        )

        df = self._df(spark)
        out = temperature_budget_mixture(
            df, "source", total_tokens=400, alpha=0.5
        ).collect()
        by_dom = {}
        for r in out:
            by_dom.setdefault(r["domain"], 0)
            by_dom[r["domain"]] += r["n_tok"]
        # budgets: W = sqrt(1000)+sqrt(100); n_a = floor(400*sqrt(1000)/W)
        # = 303, n_b = floor(400*sqrt(100)/W) = 95 -> whole docs of 10
        assert by_dom["a"] == 300 and by_dom["b"] == 90
        # temperature flattening: tail share rises from 1/11 to ~24%
        assert by_dom["b"] / sum(by_dom.values()) > 0.15
        # NULL domain never selected
        assert all(r["domain"] is not None for r in out)

    def test_budget_caps_at_available_and_determinism(self, spark):
        from dataengineer_spark.operators.preparation import (
            temperature_budget_mixture,
        )

        df = self._df(spark)
        # budget far above the corpus: every non-null-domain doc selected
        out = temperature_budget_mixture(
            df, "source", total_tokens=10_000_000, alpha=0.5
        )
        assert out.count() == 110
        # deterministic: same selection twice (hash order, no randomness)
        small1 = {
            r["doc_id"]
            for r in temperature_budget_mixture(
                df, "source", 200, portable=True
            ).collect()
        }
        small2 = {
            r["doc_id"]
            for r in temperature_budget_mixture(
                df, "source", 200, portable=True
            ).collect()
        }
        assert small1 == small2 and small1


class TestHashBucketOverflow:
    def test_64bit_ids_survive_ansi_mode(self, spark):
        # ANSI mode makes key * SPLIT_MULT a hard ArithmeticException for
        # keys >= ~3.47e9 without the 2^31 pre-fold
        from dataengineer_spark.operators.preparation import (
            mixture_sample, train_test_split,
        )

        df = spark.createDataFrame(
            [(5_000_000_000,), (2**62,), (7,)], "doc_id long"
        )
        out = train_test_split(df, "doc_id").collect()
        assert len(out) == 3
        assert {r["split"] for r in out} <= {"train", "valid", "test"}
        kept = mixture_sample(
            df.withColumn("d", F.lit("x")), "doc_id", "d", {"x": 1.0}
        )
        assert kept.count() == 3

    def test_small_ids_unchanged_by_fold(self, spark):
        # keys < 2^31: the pre-fold is the identity, so the documented
        # (k * M + salt) % mod arithmetic (and every SQL oracle) holds
        from dataengineer_spark.operators.preparation import (
            SPLIT_MULT, hash_bucket,
        )

        df = spark.createDataFrame([(k,) for k in range(100)], "k long")
        got = {
            r["k"]: r["b"]
            for r in df.select("k", hash_bucket(F.col("k"), 100, 3).alias("b")).collect()
        }
        assert got == {k: (k * SPLIT_MULT + 3) % 100 for k in range(100)}


class TestExplodeWordsEmpty:
    def test_empty_docs_yield_no_tokens(self, spark):
        from dataengineer_spark.operators.preparation import word_counts

        df = spark.createDataFrame(
            [("",), ("   ",), (None,), ("a b a",)], "text string"
        )
        got = {r["word"]: r["n"] for r in word_counts(df, "text").collect()}
        assert got == {"a": 2, "b": 1}  # no '' token


class TestKfoldAssign:
    def test_group_integrity_and_range(self, spark, sf_dir):
        from dataengineer_spark.operators.preparation import kfold_assign
        from dataengineer_spark.testdata import load_table

        docs = load_table(spark, sf_dir, "documents")
        out = kfold_assign(docs, "source", k=5, salt="cv")
        # every group maps to exactly one fold, folds in [0, 5)
        per = out.groupBy("source").agg(
            F.countDistinct("fold").alias("nf"),
            F.min("fold").alias("lo"),
            F.max("fold").alias("hi"),
        ).collect()
        assert all(r["nf"] == 1 and 0 <= r["lo"] and r["hi"] < 5 for r in per)
        # fold is a function of the KEY: reassignment is bit-identical
        again = kfold_assign(docs, "source", k=5, salt="cv")
        assert (
            out.select("doc_id", "fold").exceptAll(
                again.select("doc_id", "fold")
            ).count() == 0
        )

    def test_salt_domain_separation_and_validation(self, spark):
        import pytest
        from dataengineer_spark.operators.preparation import kfold_assign

        df = spark.createDataFrame(
            [(f"src{i}",) for i in range(40)], "g string"
        )
        a = {r["g"]: r["fold"] for r in kfold_assign(df, "g", 5, "x").collect()}
        b = {r["g"]: r["fold"] for r in kfold_assign(df, "g", 5, "y").collect()}
        assert a != b  # different salts give a different assignment
        with pytest.raises(ValueError):
            kfold_assign(df, "g", 0)


class TestVocabCoverage:
    def test_exact_prefix_cut(self, spark):
        from dataengineer_spark.operators.preparation import vocab_coverage

        # counts: a=5, b=3, c=1, d=1 (total 10); 80% needs a+b; the
        # cut keeps ranks with cum_before < 8 -> a (0<8), b (5<8), NOT c
        df = spark.createDataFrame(
            [("a a a a a b b b c d",)], "text string"
        )
        rows = vocab_coverage(df, coverage_pct=80).collect()
        assert [(r["rank"], r["word"], r["n"], r["cum_n"]) for r in rows] == [
            (1, "a", 5, 5), (2, "b", 3, 8),
        ]

    def test_full_coverage_keeps_all_ties_by_word(self, spark):
        from dataengineer_spark.operators.preparation import vocab_coverage

        df = spark.createDataFrame([("b a b a",)], "text string")
        rows = vocab_coverage(df, coverage_pct=100).collect()
        assert [(r["rank"], r["word"]) for r in rows] == [(1, "a"), (2, "b")]


class TestLengthBucketReport:
    def test_exact_bucket_math_and_cap(self, spark):
        from dataengineer_spark.operators.preparation import (
            length_bucket_report,
        )

        texts = [
            ("w",),                       # 1 token  -> bucket 4
            (" ".join(["w"] * 4),),       # 4 tokens -> bucket 4 (exact fit)
            (" ".join(["w"] * 5),),       # 5 tokens -> bucket 8
            (" ".join(["w"] * 50),),      # 50 tokens -> capped at 16
            ("",),                        # 0 tokens -> floor bucket 4
        ]
        df = spark.createDataFrame(texts, "text string")
        rows = {
            r["bucket_len"]: r
            for r in length_bucket_report(df, bucket=4, cap=16).collect()
        }
        b4 = rows[4]
        assert (b4["n_docs"], b4["n_tokens"], b4["n_pad"]) == (3, 5, 7)
        assert b4["efficiency"] == 5 / 12
        b8 = rows[8]
        assert (b8["n_docs"], b8["n_tokens"], b8["n_pad"]) == (1, 5, 3)
        b16 = rows[16]  # over-cap doc counted as truncated to 16
        assert (b16["n_docs"], b16["n_tokens"], b16["n_pad"]) == (1, 16, 0)

    def test_cap_must_be_bucket_multiple(self, spark):
        import pytest
        from dataengineer_spark.operators.preparation import (
            length_bucket_report,
        )

        df = spark.createDataFrame([("x",)], "text string")
        with pytest.raises(ValueError):
            length_bucket_report(df, bucket=3, cap=10)


class TestLengthBucketCapValidation:
    def test_non_positive_cap_rejected(self, spark):
        import pytest
        from dataengineer_spark.operators.preparation import (
            length_bucket_report,
        )

        df = spark.createDataFrame([("x",)], "text string")
        for bad_cap in (0, -16):
            with pytest.raises(ValueError):
                length_bucket_report(df, bucket=16, cap=bad_cap)


class TestKfoldNullGroup:
    def test_null_group_gets_deterministic_fold(self, spark):
        from dataengineer_spark.operators.preparation import kfold_assign

        df = spark.createDataFrame(
            [("a", 1), (None, 2), (None, 3)], "g string, i int"
        )
        rows = kfold_assign(df, "g", 5, "s").collect()
        folds = {r["i"]: r["fold"] for r in rows}
        assert folds[2] is not None and folds[2] == folds[3]
        assert 0 <= folds[2] < 5
