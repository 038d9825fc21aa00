"""Unit tests for the scalar function library (SURVEY.md §2.4) — edge cases

from FIXTURES.md §B: NULL/empty text, labels without separators, truncation
boundaries, regex parity strings."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataengineer_spark.functions.cleaning import basic_reg, clean_msg
from dataengineer_spark.functions.dates import format_date, parse_yyyymmdd
from dataengineer_spark.functions.labels import split_label
from dataengineer_spark.functions.sections import (
    compile_section_regex,
    create_sections,
    sectionize,
)
from dataengineer_spark.functions.truncate import (
    TOKEN_LIMIT,
    _truncate_one,
    truncate_text_chars,
    truncate_text_tokens,
)


def _one(spark, expr, value: str | None):
    df = spark.createDataFrame([(value,)], "t string")
    return df.select(expr.alias("out")).first()["out"]


class TestCleanMsg:
    def test_strips_hl7_prefix_and_breaks(self, spark):
        raw = "OBX|1|TX|Diagnosis: carcinoma~present"
        out = _one(spark, clean_msg("t"), raw)
        assert out == "TX|Diagnosis: carcinoma\npresent"

    def test_collapses_whitespace(self, spark):
        assert _one(spark, clean_msg("t"), "a   b\t\tc") == "a b c"

    def test_null_and_empty(self, spark):
        assert _one(spark, clean_msg("t"), None) is None
        assert _one(spark, clean_msg("t"), "") == ""

    def test_control_chars_removed(self, spark):
        assert _one(spark, clean_msg("t"), "a\x01\x02b") == "a b"

    def test_basic_reg_lowercases(self, spark):
        assert _one(spark, basic_reg(F.col("t")), "Hello,  WORLD!") == "hello, world"


class TestSections:
    PATTERNS = {
        "gross": r"GROSS:([^\n]*)",
        "diagnosis": r"DIAGNOSIS:([^\n]*)",
        "micro": r"MICRO:([^\n]*)",
    }

    def test_extracts_and_classifies(self, spark):
        msg = "GROSS: 3cm mass\nDIAGNOSIS: adenocarcinoma\nother"
        row = (
            spark.createDataFrame([(msg,)], "msg string")
            .select(create_sections("msg", self.PATTERNS).alias("s"))
            .select("s.*")
            .first()
        )
        assert row["gross"] == " 3cm mass"
        assert row["diagnosis"] == " adenocarcinoma"
        assert row["part_of_report"] == "diag_or_add"
        assert "3cm mass" in row["filtered_message"]

    def test_no_match_entire_report(self, spark):
        row = (
            spark.createDataFrame([("plain text",)], "msg string")
            .select(create_sections("msg", self.PATTERNS).alias("s"))
            .select("s.*")
            .first()
        )
        assert row["part_of_report"] == "entire report"
        assert row["filtered_message"] == "plain text"
        assert row["gross"] == ""

    def test_gross_or_micro(self, spark):
        row = (
            spark.createDataFrame([("MICRO: cells",)], "msg string")
            .select(create_sections("msg", self.PATTERNS).alias("s"))
            .select("s.*")
            .first()
        )
        assert row["part_of_report"] == "gross_or_micro"

    def test_section_missing_from_patterns_is_empty(self, spark):
        # PATTERNS has no addendum/diagnosis_comment: an empty or
        # newline-only report matches the stand-in never-match pattern,
        # which must carry a group 1 or regexp_extract raises
        rows = (
            spark.createDataFrame([("",), ("\n",), (None,)], "msg string")
            .select(create_sections("msg", self.PATTERNS).alias("s"))
            .select("s.addendum", "s.diagnosis_comment", "s.part_of_report")
            .collect()
        )
        assert [tuple(r) for r in rows] == [
            ("", "", "entire report"),
            ("", "", "entire report"),
            (None, None, "entire report"),
        ]

    def test_null_msg(self, spark):
        row = (
            spark.createDataFrame([(None,)], "msg string")
            .select(create_sections("msg", self.PATTERNS).alias("s"))
            .select("s.*")
            .first()
        )
        # regexp_extract of NULL is NULL; classification falls through
        assert row["gross"] is None
        assert row["part_of_report"] == "entire report"

    def test_sectionize_expands_columns(self, spark):
        df = spark.createDataFrame([(1, "GROSS: x")], "id long, msg string")
        out = sectionize(df, "msg", self.PATTERNS)
        assert set(out.columns) >= {
            "id", "msg", "gross", "filtered_message", "part_of_report",
        }

    def test_compile_section_regex_merges_variants(self, spark):
        cfg = spark.createDataFrame(
            [
                (1, "gross", "GROSS:(.*)", "GROS:(.*)", None, None, None, None),
                (1, "micro", "MICRO:(.*)", None, None, None, None, None),
            ],
            "model_id long, parent_category string, nha string, fha string, "
            "fha2 string, iha string, vcha1 string, vcha2 string",
        )
        pats = compile_section_regex(cfg)
        assert pats["micro"] == "MICRO:(.*)"
        assert pats["gross"] == ["GROSS:(.*)", "GROS:(.*)"]

    def test_later_variant_match_extracts_body(self, spark):
        # regression: a merged '(?:A(x))|(?:B(y))' alternation renumbers
        # capture groups so a variant-2 match extracted '' — the variant
        # list must extract the body whichever authority format matched
        cfg = spark.createDataFrame(
            [(1, "gross", "GROSS:(.*)", "GROS:(.*)", None, None, None, None)],
            "model_id long, parent_category string, nha string, fha string, "
            "fha2 string, iha string, vcha1 string, vcha2 string",
        )
        pats = compile_section_regex(cfg)
        df = spark.createDataFrame(
            [(1, "GROSS: via first"), (2, "GROS: via second"), (3, "nothing")],
            "id long, msg string",
        )
        rows = {
            r["id"]: r["s"]["gross"]
            for r in df.select("id", create_sections("msg", pats).alias("s")).collect()
        }
        assert rows[1] == " via first"
        assert rows[2] == " via second"
        assert rows[3] == ""


class TestTruncate:
    def test_chars_under_budget_passthrough(self, spark):
        df = spark.createDataFrame([("short", "entire report")], "t string, p string")
        out = df.select(truncate_text_chars("t", "p", 10).alias("o")).first()["o"]
        assert out == "short"

    def test_chars_entire_report_keeps_tail(self, spark):
        df = spark.createDataFrame([("abcdefghij", "entire report")], "t string, p string")
        out = df.select(truncate_text_chars("t", "p", 4).alias("o")).first()["o"]
        assert out == "ghij"

    def test_chars_other_keeps_head(self, spark):
        df = spark.createDataFrame([("abcdefghij", "diag_or_add")], "t string, p string")
        out = df.select(truncate_text_chars("t", "p", 4).alias("o")).first()["o"]
        assert out == "abcd"

    def test_tokens_boundary_exact(self):
        # exactly at the limit → untouched; one over → cut (dx_group.py:51)
        at_limit = " ".join(f"w{i}" for i in range(TOKEN_LIMIT))
        txt, off = _truncate_one(at_limit, "entire report", TOKEN_LIMIT)
        assert txt == at_limit and off == 0
        over = " ".join(f"w{i}" for i in range(TOKEN_LIMIT + 1))
        txt, off = _truncate_one(over, "entire report", TOKEN_LIMIT)
        assert txt.split()[0] == "w1" and off > 0
        txt_head, _ = _truncate_one(over, "gross_or_micro", TOKEN_LIMIT)
        assert txt_head.split()[-1] == f"w{TOKEN_LIMIT - 1}"

    def test_tokens_udf_shape(self, spark):
        df = spark.createDataFrame(
            [("a b c", "entire report"), (None, None)], "t string, p string"
        )
        rows = (
            df.select(truncate_text_tokens("t", "p").alias("o"))
            .select("o.*")
            .collect()
        )
        assert rows[0]["filtered_message"] == "a b c"
        assert rows[0]["offset"] == 0
        assert rows[1]["filtered_message"] is None

    def test_hf_tokenizer_branch_with_fake_offsets_scheme(self):
        # the HF fast-tokenizer branch of _offsets/_truncate_one, run
        # unconditionally via the built-in 'fake-offsets' scheme — a
        # dependency-free tokenizer implementing the offset-mapping
        # contract (VERDICT r8 item 4 / r9 item 1): subword-ish 4-char
        # tokens plus zero-width special-token offsets that the
        # `o[1] > o[0]` filter must drop.  NOTE the repo deliberately
        # diverges from the reference's literal indexing (dx_group.py:
        # 49-61 keeps 509/511 tokens via offsets[len-510][1] /
        # offsets[510][1] over a specials-included list) — this engine
        # keeps an EXACT-510 content-token window; see the divergence
        # note in functions/truncate.py.  Do not "fix" back to the
        # reference's off-by-one.
        from dataengineer_spark.functions import truncate as tr

        text = "pathology " * 600  # 6000 chars → 1500 4-char tokens > 510
        offs = tr._offsets(text, scheme="fake-offsets")
        assert len(offs) == 1500  # zero-width entries filtered out
        kept, off = tr._truncate_one(
            text, "entire report", tr.TOKEN_LIMIT, scheme="fake-offsets"
        )
        # keep the LAST 510 tokens exactly (dx_group.py:52-55 intent)
        assert off == offs[len(offs) - tr.TOKEN_LIMIT][0] and off > 0
        assert text.endswith(kept) and kept == text[off:]
        assert len(tr._offsets(kept, scheme="fake-offsets")) == tr.TOKEN_LIMIT
        kept_head, off_head = tr._truncate_one(
            text, "gross_or_micro", tr.TOKEN_LIMIT, scheme="fake-offsets"
        )
        assert text.startswith(kept_head)
        assert off_head == offs[tr.TOKEN_LIMIT - 1][1]
        # under-limit text passes through whole on this branch too
        assert tr._truncate_one(
            "abcd" * 10, "entire report", tr.TOKEN_LIMIT,
            scheme="fake-offsets",
        ) == ("abcd" * 10, 0)

    def test_tokens_arrow_path_boundary_with_fake_offsets(self, spark):
        # VERDICT r9 item 1: the 510/511 boundary through the FULL
        # executor-side Arrow path (_make_truncate_udf → iterator
        # pandas_udf → per-worker scheme resolution), torch-free.  The
        # fake tokenizer makes 4-char tokens, so 510 tokens = one text
        # of 2040 chars; 511 = 2044.
        from dataengineer_spark.functions import truncate as tr

        at_limit = "x" * (4 * tr.TOKEN_LIMIT)
        one_over = "x" * (4 * (tr.TOKEN_LIMIT + 1))
        df = spark.createDataFrame(
            [
                (1, at_limit, "entire report"),
                (2, one_over, "entire report"),
                (3, one_over, "gross_or_micro"),
                (4, None, None),
            ],
            "id long, t string, p string",
        )
        rows = {
            r["id"]: r
            for r in df.select(
                "id",
                truncate_text_tokens("t", "p", tokenizer="fake-offsets")
                .alias("o"),
            )
            .select("id", "o.*")
            .collect()
        }
        # exactly at the limit → untouched
        assert rows[1]["filtered_message"] == at_limit
        assert rows[1]["offset"] == 0
        # one token over, tail form: first 4-char token dropped
        assert rows[2]["offset"] == 4
        assert rows[2]["filtered_message"] == one_over[4:]
        # one token over, head form: cut at the end of the 510th token
        assert rows[3]["offset"] == 4 * tr.TOKEN_LIMIT
        assert rows[3]["filtered_message"] == one_over[: 4 * tr.TOKEN_LIMIT]
        # NULL text passes through as NULL with offset 0
        assert rows[4]["filtered_message"] is None


class TestDatesAndLabels:
    def test_format_date_roundtrip(self, spark):
        assert _one(spark, format_date(F.col("t"), "%Y-%m-%d"), "2022-03-05") == "20220305"
        assert _one(spark, format_date(F.col("t")), "20220305") == "20220305"

    def test_parse_yyyymmdd(self, spark):
        out = _one(spark, parse_yyyymmdd(F.col("t")).cast("string"), "20220305")
        assert out == "2022-03-05"

    def test_split_label(self, spark):
        assert _one(spark, split_label("t"), "LABEL_7") == 7
        assert _one(spark, split_label("t"), "PLAIN") is None
        assert _one(spark, split_label("t"), None) is None
        assert _one(spark, split_label("t", as_long=False), "LABEL_x") == "x"
        # non-numeric suffix under try_cast → NULL, not an error
        assert _one(spark, split_label("t"), "LABEL_x") is None


class TestBpe:
    def test_merges_match_hand_computation(self, spark):
        from dataengineer_spark.functions.bpe import bpe_train

        df = spark.createDataFrame(
            [("aaab aaab aaab aab aab",)], "text string"
        )
        merges = bpe_train(df, "text", n_merges=6)
        # hand-derived: (a,a)=8 first; then tie (aa,a)=3 vs (a,b)=3 breaks
        # to the lexicographically smaller left token; then the rest; the
        # loop stops early once no pairs remain (4 < 6 requested)
        assert merges == [("a", "a"), ("a", "b"), ("aa", "ab"), ("aa", "b")]

    def test_train_leaves_no_cached_rdds(self, spark):
        # VERDICT r4 item 6: repeated trainings in a long-lived session
        # must not leak cached vocab histograms
        from dataengineer_spark.functions.bpe import bpe_train

        df = spark.createDataFrame([("ab ab abc",)], "text string")
        before = len(spark.sparkContext._jsc.getPersistentRDDs())
        bpe_train(df, "text", n_merges=2)
        after = len(spark.sparkContext._jsc.getPersistentRDDs())
        assert after <= before

    def test_job_count_independent_of_merges(self, spark, job_group):
        # the histogram is collected once; every merge runs on the driver
        from dataengineer_spark.functions.bpe import bpe_train

        df = spark.createDataFrame([("aaab aab abab xyxy",)], "text string")
        counts = []
        for n in (1, 8):
            with job_group() as jobs:
                bpe_train(df, "text", n_merges=n)
            counts.append(len(jobs))
        assert counts[0] == counts[1]

    def test_merges_pinned(self, spark):
        # pinned against the per-merge Spark loop this trainer replaced:
        # count ties, back-to-back repeats, case folding, non-ASCII and
        # emoji words, a NULL and an empty row
        from dataengineer_spark.functions.bpe import bpe_train

        df = spark.createDataFrame(
            [
                ("xyxy xyxy abab ba",),
                ("naïve café Café 😀😀 😀x xyxy",),
                (None,),
                ("",),
                ("ab ba xy yx ñandú ñandú",),
                ("héllo wörld 🙂🙃 🙂🙃 zz zzz   ",),
                ("  aaab aab béb bèb",),
            ],
            "text string",
        )
        assert bpe_train(df, "text", n_merges=30) == [
            ("x", "y"), ("a", "b"), ("xy", "xy"), ("z", "z"), ("a", "ab"),
            ("a", "f"), ("a", "n"), ("af", "é"), ("an", "d"), ("and", "ú"),
            ("b", "a"), ("c", "afé"), ("ñ", "andú"), ("🙂", "🙃"),
            ("a", "aab"), ("a", "ï"), ("ab", "ab"), ("aï", "v"),
            ("aïv", "e"), ("b", "è"), ("b", "é"), ("bè", "b"), ("bé", "b"),
            ("h", "é"), ("hé", "l"), ("hél", "l"), ("héll", "o"),
            ("l", "d"), ("n", "aïve"), ("r", "ld"),
        ]

    def test_vocab_bound_raises(self, spark, monkeypatch):
        import pytest

        from dataengineer_spark.functions import bpe

        monkeypatch.setattr(bpe, "MAX_VOCAB", 2)
        df = spark.createDataFrame([("ab ab abc abcd",)], "text string")
        with pytest.raises(ValueError, match="MAX_VOCAB"):
            bpe.bpe_train(df, "text", n_merges=2)

    def test_segment_applies_merges_greedy_left(self, spark):
        from dataengineer_spark.functions.bpe import bpe_segment
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [("xyxy",), ("xxx",), ("yx",)], "w string"
        )
        out = {
            r["w"]: r["toks"]
            for r in df.select(
                "w", bpe_segment(F.col("w"), [("x", "y"), ("xy", "xy")]).alias("toks")
            ).collect()
        }
        # back-to-back merges both fire (the double-sentinel property),
        # then the second merge consumes the result
        assert out["xyxy"] == ["xyxy"]
        assert out["xxx"] == ["x", "x", "x"]   # no (x,x) merge learned
        assert out["yx"] == ["y", "x"]


class TestNormalizeText:
    def test_full_chain(self, spark):
        from dataengineer_spark.functions.cleaning import normalize_text

        df = spark.createDataFrame(
            [("  Héllo\t WÖRLD \x07 naïve\n\ncafé  ",), (None,), ("",)],
            "t string",
        )
        out = [r["n"] for r in df.select(normalize_text("t").alias("n")).collect()]
        assert out[0] == "hello world naive cafe"
        assert out[1] is None
        assert out[2] == ""

    def test_idempotent(self, spark):
        from dataengineer_spark.functions.cleaning import normalize_text

        df = spark.createDataFrame([("Àé ÑÇ šŽ ýÿ",)], "t string")
        once = df.select(normalize_text("t").alias("n"))
        twice = once.select(normalize_text("n").alias("n"))
        assert once.first()["n"] == twice.first()["n"] == "ae nc sz yy"


class TestSixthReviewEdgeCases:
    def test_clean_msg_strips_tilde_delimited_segment_prefixes(self, spark):
        out = _one(spark, clean_msg("t"), "OBX|1|TX|foo~OBX|2|TX|bar")
        assert out == "TX|foo\nTX|bar"  # second segment's prefix stripped too

    def test_clean_msg_normalizes_literal_carriage_returns(self, spark):
        assert _one(spark, clean_msg("t"), "A\r\rB") == "A\nB"
        assert _one(spark, clean_msg("t"), "A\r\nB") == "A\nB"

    def test_filtered_message_no_interior_space_runs(self, spark):
        from dataengineer_spark.functions.sections import create_sections

        pats = {
            "gross": r"GROSS:([^\n]*)",
            "diagnosis": r"DIAGNOSIS:([^\n]*)",
            "micro": r"MICRO:([^\n]*)",
        }
        row = (
            spark.createDataFrame([("GROSS:g\nMICRO:m",)], "msg string")
            .select(create_sections("msg", pats).alias("s"))
            .select("s.filtered_message")
            .first()
        )
        assert row["filtered_message"] == "g m"  # one space, not four

    def test_sectionize_rejects_colliding_columns(self, spark):
        import pytest

        from dataengineer_spark.functions.sections import sectionize

        df = spark.createDataFrame([(1, "x", "y")], "id long, msg string, diagnosis string")
        with pytest.raises(ValueError, match="collide"):
            sectionize(df, "msg")

    def test_malformed_dates_yield_null_not_error(self, spark):
        assert _one(spark, format_date(F.col("t")), "2022131") is None
        assert _one(spark, format_date(F.col("t")), "") is None
        assert _one(spark, parse_yyyymmdd(F.col("t")), "notadate") is None

    def test_standin_classifier_64bit_ids(self, spark):
        from dataengineer_spark.ml.inference import arith_standin_classifier

        df = spark.createDataFrame(
            [(4_000_000_000, "text")], "msgid long, model_input string"
        )
        row = df.select(
            arith_standin_classifier("msgid", "model_input").alias("p")
        ).select("p.*").first()
        assert row["predicted_label"].startswith("LABEL_")
