"""Scrubbing (PII redaction, C4/Gopher filters), ranking (TF-IDF/BM25),

and semantic-dedup operator tests on crafted rows — the oracle gate
covers the same operators against DuckDB on the synthetic corpus; these
pin the semantics on adversarial inputs the corpus doesn't contain.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from dataengineer_spark.operators import ranking, scrubbing
from dataengineer_spark.operators.similarity import semantic_dedup


def test_redact_pii_all_kinds(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-ample.org now"),
            (2, "ssn 123-45-6789 phone 604-555-1234 ip 192.168.0.1"),
            (3, "dotted phone 604.555.1234"),
            (4, "nothing to see"),
            (5, "two mails x@y.io and z@w.co end"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in scrubbing.redact_pii(df).collect()
    }
    assert out[1]["text_redacted"] == "mail [EMAIL] now"
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 0
    assert out[2]["text_redacted"] == "ssn [SSN] phone [PHONE] ip [IP]"
    assert (out[2]["n_ssn"], out[2]["n_phone"], out[2]["n_ipv4"]) == (1, 1, 1)
    assert out[3]["text_redacted"] == "dotted phone [PHONE]"
    assert out[4]["text_redacted"] == "nothing to see"
    assert sum(out[4][f"n_{k}"] for k, _, _ in scrubbing.PII_PATTERNS) == 0
    assert out[5]["n_email"] == 2
    assert out[5]["text_redacted"] == "two mails [EMAIL] and [EMAIL] end"


def test_c4_line_filter(spark):
    doc = "Keep this proper sentence.\nno punct line\nshort.\n\nAnother good line here!"
    df = spark.createDataFrame(
        [(1, doc), (2, "code { x }"), (3, "Lorem Ipsum dolor sit amet.")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in scrubbing.c4_line_filter(df).collect()}
    assert out[1]["n_lines"] == 5
    assert out[1]["n_kept"] == 2
    assert out[1]["text_kept"] == (
        "Keep this proper sentence.\nAnother good line here!"
    )
    assert out[1]["doc_keep"] is True
    assert out[2]["doc_keep"] is False  # curly brace
    assert out[3]["doc_keep"] is False  # lorem ipsum (and case-folded)


def test_gopher_filter_rules(spark):
    # two DISTINCT stopwords ('the', 'and') — the rule counts distinct
    # stop words present, not occurrences (Rae et al. table A1)
    good = "the quick brown fox and " * 16  # 80 words, all alpha
    short = "too short to pass."
    no_stop = "zzz qqq " * 40
    one_stop_repeated = "the zzz " * 40  # 1 distinct stopword, 40 hits
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, no_stop), (4, ""), (5, one_stop_repeated)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in scrubbing.gopher_filter(df).collect()}
    assert out[1]["gopher_keep"] is True
    assert out[2]["ok_n_words"] is False
    assert out[3]["ok_stopwords"] is False
    assert out[4]["n_words"] == 0 and out[4]["gopher_keep"] is False
    assert out[5]["ok_stopwords"] is False  # repetition isn't diversity


def test_tf_idf_top_terms_manual(spark):
    df = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "apple cherry"), (3, "banana banana date")],
        "doc_id long, text string",
    )
    rows = ranking.tf_idf_top_terms(df, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: apple tf=2 df=2, banana tf=1 df=2 -> apple first
    d1 = sorted(by_doc[1], key=lambda r: r["rank"])
    assert [r["term"] for r in d1] == ["apple", "banana"]
    assert d1[0]["tf"] == 2 and d1[0]["df"] == 2
    # doc 2: cherry (df=1) outranks apple (df=2) at equal tf=1
    d2 = sorted(by_doc[2], key=lambda r: r["rank"])
    assert [r["term"] for r in d2] == ["cherry", "apple"]


def test_bm25_scores_manual(spark):
    df = spark.createDataFrame(
        [(1, "table table chair"), (2, "table lamp"), (3, "sofa lamp rug")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ranking.bm25_scores(df, ["table"]).collect()}
    assert set(out) == {1, 2}  # doc 3 has no query term
    assert out[1]["n_hit_terms"] == 1
    # manual: N=3, df=2, idf=ln(1+(3-2+0.5)/(2+0.5)); dl=3,2; avgdl=8/3
    idf = math.log(1 + 1.5 / 2.5)
    k1, b = 1.5, 0.75
    avgdl = 8 / 3

    def s(tf, dl):
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert abs(out[1]["bm25"] - round(s(2, 3), 6)) < 1e-6
    assert abs(out[2]["bm25"] - round(s(1, 2), 6)) < 1e-6
    assert out[1]["bm25"] > out[2]["bm25"]  # higher tf wins here


def test_semantic_dedup_min_id_survivor(spark):
    # three copies of one direction + one orthogonal vector; any reasonable
    # codebook puts identical vectors in the same cell
    v = [1.0, 0.0, 0.0, 0.0]
    w = [0.0, 1.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [(10, v), (20, v), (30, v), (40, w)],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["id"]: r
        for r in semantic_dedup(df, dim=4, threshold=0.99, n_centroids=4).collect()
    }
    assert out[10]["dropped"] is False and out[10]["kept_by"] is None
    assert out[20]["dropped"] is True and out[20]["kept_by"] == 10
    assert out[30]["dropped"] is True and out[30]["kept_by"] == 10
    assert out[40]["dropped"] is False


def test_semantic_dedup_deterministic(spark, sf_dir):
    from dataengineer_spark.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = sorted(
        semantic_dedup(emb, dim=64, threshold=0.9, n_centroids=8).collect()
    )
    b = sorted(
        semantic_dedup(emb, dim=64, threshold=0.9, n_centroids=8).collect()
    )
    assert a == b


def test_dup_spans_boilerplate_and_merge(spark):
    from dataengineer_spark.operators.dedup import dup_spans

    boiler = "a b c d e f g h i j"  # 10 tokens -> 3 positioned 8-shingles
    df = spark.createDataFrame(
        [
            (1, "x1 y1 " + boiler + " z1"),
            (2, "x2 " + boiler + " z2 w2"),
            (3, "unrelated words only here nothing shared at all with others"),
        ],
        "doc_id long, text string",
    )
    out = dup_spans(df, k=8, min_docs=2).collect()
    spans = {r["doc_id"]: (r["span_start"], r["span_end"], r["n_tokens"]) for r in out}
    # doc 1: boilerplate occupies tokens 3..12; doc 2: tokens 2..11
    assert spans[1] == (3, 12, 10)
    assert spans[2] == (2, 11, 10)
    assert 3 not in spans
    assert len(out) == 2  # one maximal span per doc, islands merged


def test_dup_spans_hashed_matches_text_keys(spark, sf_dir):
    from dataengineer_spark.operators.dedup import dup_spans
    from dataengineer_spark.testdata import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # lower k so the random-vocab corpus has organic duplicate shingles
    a = sorted(map(tuple, dup_spans(docs, k=3, hashed=True).collect()))
    b = sorted(map(tuple, dup_spans(docs, k=3, hashed=False).collect()))
    assert a == b and len(a) > 0


def test_dsir_importance_prefers_target_style(spark):
    from dataengineer_spark.operators.preparation import dsir_importance

    rows = []
    for i in range(20):
        rows.append((i, "en", "the cat sat on the mat with the hat"))
    for i in range(20, 40):
        rows.append((i, "de", "der hund lief durch den wald im regen"))
    # held-out docs of each style, NOT in the target slice
    rows.append((100, "xx", "the cat sat on the mat"))
    rows.append((101, "xx", "der hund lief durch den wald"))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    for portable in (False, True):
        out = {
            r["doc_id"]: r["dsir_logratio"]
            for r in dsir_importance(
                df, F.col("lang") == "en", buckets=32, portable_hash=portable
            ).collect()
        }
        assert out[100] > out[101]  # target-style doc scores higher
        assert out[100] > 0 > out[101]


def test_funnel_report_ordered_rules(spark):
    from dataengineer_spark.operators.quality import funnel_report

    df = spark.createDataFrame(
        [(1, 10, "x"), (2, 20, "y"), (3, 30, "x"), (4, 40, "y")],
        "id long, v long, tag string",
    )
    out = {
        r["step"]: r
        for r in funnel_report(
            df,
            [
                ("v_big", F.col("v") >= 20),
                ("is_x", F.col("tag") == "x"),
            ],
        ).collect()
    }
    assert out[1]["rule_name"] == "v_big"
    assert out[1]["n_pass"] == 3 and out[1]["n_cum"] == 3
    assert out[2]["n_pass"] == 2  # rows 1, 3
    assert out[2]["n_cum"] == 1  # only row 3 passes both
    assert abs(out[2]["frac_cum"] - 0.25) < 1e-9


def test_minhash_lsh_join_finds_benchmark_leak(spark):
    from dataengineer_spark.operators.dedup import minhash_lsh_join

    leak = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [
            (1, leak),
            (2, leak + " with a tiny suffix"),
            (3, "completely different content about spark physical plans"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, leak)], "bench_id long, text string")
    out = {
        (r["corpus_id"], r["bench_id"]): r["jaccard"]
        for r in minhash_lsh_join(corpus, bench, threshold=0.5).collect()
    }
    assert out[(1, 100)] == 1.0  # exact leak found
    assert (3, 100) not in out  # unrelated doc not matched
    # near-copy should band-collide and verify above threshold
    assert out.get((2, 100), 0.0) > 0.5


class TestRemoveBoilerplateLines:
    def test_frequent_lines_drop_rare_survive_in_order(self, spark):
        from dataengineer_spark.operators.scrubbing import (
            remove_boilerplate_lines,
        )

        docs = [
            (i, "COOKIE BANNER\nunique line %d\nfooter" % i) for i in range(5)
        ] + [(99, "COOKIE BANNER\nfirst\nsecond")]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = {
            r["doc_id"]: r
            for r in remove_boilerplate_lines(df, min_docs=3).collect()
        }
        # banner appears in 6 docs, footer in 5 -> both boilerplate
        assert out[0]["text_clean"] == "unique line 0"
        assert out[99]["text_clean"] == "first\nsecond"  # order kept
        assert out[99]["n_lines"] == 3 and out[99]["n_kept"] == 2

    def test_all_boilerplate_doc_stays_as_empty_row(self, spark):
        from dataengineer_spark.operators.scrubbing import (
            remove_boilerplate_lines,
        )

        df = spark.createDataFrame(
            [(1, "same\n\nsame"), (2, "same"), (3, None)],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in remove_boilerplate_lines(df, min_docs=2).collect()
        }
        # blank lines normalized away; 'same' in 2 docs -> boilerplate;
        # no silent row loss for emptied or NULL-text docs
        assert set(out) == {1, 2, 3}
        assert out[1]["text_clean"] == "" and out[1]["n_kept"] == 0
        assert out[3]["text_clean"] == "" and out[3]["n_lines"] == 0

    def test_within_doc_repeats_count_once(self, spark):
        from dataengineer_spark.operators.scrubbing import (
            remove_boilerplate_lines,
        )

        # a line repeated inside ONE doc is not corpus boilerplate
        df = spark.createDataFrame(
            [(1, "x\nx\nx"), (2, "y")], "doc_id long, text string"
        )
        out = {
            r["doc_id"]: r["text_clean"]
            for r in remove_boilerplate_lines(df, min_docs=2).collect()
        }
        assert out[1] == "x\nx\nx" and out[2] == "y"


class TestNeardupRecall:
    def test_planted_dup_found_and_bounds(self, spark):
        import hashlib

        from dataengineer_spark.operators import dedup as dedup_ops

        # md5-derived vocab: cross-doc shingle overlap is negligible, so
        # ground truth is EXACTLY the planted pair — and the seeded hash
        # family must find it (deterministic: seed=42, sim ~0.95)
        def words(i: int) -> str:
            return " ".join(
                hashlib.md5(f"{i}-{j}".encode()).hexdigest()[:8]
                for j in range(30)
            )

        base = [(i, words(i)) for i in range(40)]
        rows = base + [(100, base[0][1] + " tiny tail")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = dedup_ops.neardup_recall(
            df, "doc_id", "text", shingle_size=5, num_hashes=32, bands=4,
            threshold=0.5, family="portable", allow_quadratic=True,
        ).collect()[0]
        assert (out["n_true"], out["n_found"], out["recall"]) == (1, 1, 1.0)

    def test_no_dups_null_recall(self, spark):
        from dataengineer_spark.operators import dedup as dedup_ops

        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "one two three four five")],
            "doc_id long, text string",
        )
        out = dedup_ops.neardup_recall(
            df, "doc_id", "text", threshold=0.9, family="portable",
            allow_quadratic=True,
        ).collect()[0]
        assert (out["n_true"], out["n_found"]) == (0, 0)
        assert out["recall"] is None


    def test_truth_matches_python_jaccard(self, spark):
        import itertools

        import pytest

        from dataengineer_spark.operators import dedup as dedup_ops

        def shingles(t: str, n: int = 5) -> set[str]:
            # char_shingles: one shingle (the whole text) below n chars
            return {t[i:i + n] for i in range(max(len(t) - n + 1, 1))}

        rows = [
            (1, None), (2, None),            # NULL text pairs with nothing
            (3, ""), (4, ""),                # one "" shingle each
            (5, "abc"), (6, "abc"), (7, "abcd"),  # shorter than a shingle
            (8, "the quick brown fox"), (9, "the quick brown fox"),
            (10, "the quick brown fox jumps"),
            (11, "abcdefgh"), (12, "zzzzabcde"),  # share only "abcde"
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sets = {i: shingles(t) for i, t in rows if t is not None}
        for threshold in (0.1, 0.5, 0.9):
            truth = sum(
                len(sets[i] & sets[j]) / len(sets[i] | sets[j]) >= threshold
                for i, j in itertools.combinations(sorted(sets), 2)
            )
            out = dedup_ops.neardup_recall(
                df, "doc_id", "text", threshold=threshold,
                family="portable", allow_quadratic=True,
            ).collect()[0]
            assert out["n_true"] == truth, threshold
            assert 0 <= out["n_found"] <= truth, threshold
        assert len(sets[11] & sets[12]) == 1  # the one-shingle pair
        with pytest.raises(ValueError, match="threshold"):
            dedup_ops.neardup_recall(
                df, "doc_id", "text", threshold=0.0, allow_quadratic=True
            )


class TestNgramNovelty:
    def test_exact_shares(self, spark):
        from dataengineer_spark.operators.textops import ngram_novelty

        df = spark.createDataFrame(
            [
                (1, "a b c d"),        # grams: 'a b c', 'b c d'
                (2, "a b c x"),        # grams: 'a b c', 'b c x'
                (3, "z z"),            # too short for 3-grams: no row
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in ngram_novelty(df, n=3).collect()}
        assert set(got) == {1, 2}  # doc 3 has no 3-grams
        # 'a b c' is shared (df=2); the others are unique
        assert (got[1]["n_grams"], got[1]["n_novel"]) == (2, 1)
        assert got[1]["novelty"] == 0.5
        assert got[2]["novelty"] == 0.5

    def test_within_doc_repeat_counts_once(self, spark):
        from dataengineer_spark.operators.textops import ngram_novelty

        # the same gram repeated inside ONE doc stays novel (df counts
        # documents, not occurrences)
        df = spark.createDataFrame(
            [(1, "a b c a b c")], "doc_id long, text string"
        )
        got = ngram_novelty(df, n=3).collect()[0]
        assert got["n_novel"] == got["n_grams"]
        assert got["novelty"] == 1.0


class TestCrossSourceDupMatrix:
    def test_shared_contents_counted_once(self, spark):
        from dataengineer_spark.operators.quality import (
            cross_source_dup_matrix,
        )

        df = spark.createDataFrame(
            [
                ("a", "doc one"), ("a", "doc one"),  # in-source dup: once
                ("b", "doc one"),
                ("b", "doc two"), ("c", "doc two"),
                ("a", "only in a"),
            ],
            "source string, text string",
        )
        for hashed in (False, True):
            got = {
                (r["source_a"], r["source_b"]): r["n_shared"]
                for r in cross_source_dup_matrix(df, hashed=hashed).collect()
            }
            assert got == {("a", "b"): 1, ("b", "c"): 1}


class TestCrossSourceNullText:
    def test_null_contents_excluded_in_both_modes(self, spark):
        from dataengineer_spark.operators.quality import (
            cross_source_dup_matrix,
        )

        df = spark.createDataFrame(
            [("a", None), ("b", None), ("a", "real"), ("b", "real")],
            "source string, text string",
        )
        for hashed in (False, True):
            got = {
                (r["source_a"], r["source_b"]): r["n_shared"]
                for r in cross_source_dup_matrix(df, hashed=hashed).collect()
            }
            # only the real shared doc counts; NULLs are never a match
            assert got == {("a", "b"): 1}


class TestContainmentPairs:
    def test_quote_inclusion_found_jaccard_blind(self, spark):
        from dataengineer_spark.operators import dedup as dedup_ops

        long_doc = " ".join(f"w{i}" for i in range(40))
        quote = " ".join(f"w{i}" for i in range(12))  # strict prefix
        other = " ".join(f"z{i}" for i in range(40))
        df = spark.createDataFrame(
            [(1, long_doc), (2, quote), (3, other)],
            "doc_id long, text string",
        )
        cont = dedup_ops.containment_pairs(
            df, "doc_id", "text", n=3, threshold=0.9, bucket_col=F.lit(1)
        ).collect()
        assert [(r["id_a"], r["id_b"], r["containment"]) for r in cont] == [
            (1, 2, 1.0)
        ]
        # the same pair is INVISIBLE to Jaccard at any useful threshold
        jac = dedup_ops.ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.5
        ).collect()
        assert jac == []

    def test_blank_and_null_docs_never_pair(self, spark):
        from dataengineer_spark.operators import dedup as dedup_ops

        # blank/NULL texts shingle to the degenerate [''] — without the
        # up-front filter every blank doc pairs with every other at 1.0
        df = spark.createDataFrame(
            [(1, ""), (2, "   "), (3, None), (4, "a b"), (5, "a b")],
            "doc_id long, text string",
        )
        out = dedup_ops.containment_pairs(
            df, "doc_id", "text", n=3, threshold=0.5
        ).collect()
        # only the real short-doc pair survives; ids 1-3 appear nowhere
        assert [(r["id_a"], r["id_b"], r["containment"]) for r in out] == [
            (4, 5, 1.0)
        ]


class TestMadOutlierReport:
    def test_hand_census(self, spark):
        from dataengineer_spark.operators.quality import mad_outlier_report

        # g: values 1..9 plus 100 -> median 5.5, MAD 2.5; |100-5.5|=94.5
        # > 3*2.5 flags exactly the planted outlier
        rows = [("g", float(v)) for v in range(1, 10)] + [("g", 100.0)]
        df = spark.createDataFrame(rows, "grp string, x double")
        r = mad_outlier_report(df, ["grp"], "x", k=3.0).collect()[0]
        assert (r["n"], r["median_val"], r["mad"]) == (10, 5.5, 2.5)
        assert r["n_outliers"] == 1

    def test_degenerate_mad_zero(self, spark):
        from dataengineer_spark.operators.quality import mad_outlier_report

        # >50% ties: MAD 0 -> every non-median value flags (documented)
        rows = [("g", 5.0)] * 6 + [("g", 7.0), ("g", 3.0)]
        df = spark.createDataFrame(rows, "grp string, x double")
        r = mad_outlier_report(df, ["grp"], "x", k=3.0).collect()[0]
        assert r["mad"] == 0.0 and r["n_outliers"] == 2

    def test_all_null_group_stays_in_census(self, spark):
        from dataengineer_spark.operators.quality import mad_outlier_report

        df = spark.createDataFrame(
            [("g", 1.0), ("g", 2.0), ("h", None), ("h", None)],
            "grp string, x double",
        )
        got = {
            r["grp"]: r
            for r in mad_outlier_report(df, ["grp"], "x").collect()
        }
        # the all-NULL slice is REPORTED (n counted, NULL stats), never
        # silently dropped from the census
        h = got["h"]
        assert h["n"] == 2 and h["median_val"] is None
        assert h["mad"] is None and h["n_outliers"] == 0
