"""Property-based tests (hypothesis) — SURVEY.md §5.2.4.

Each property drives the Spark expression and an independent pure-Python
reimplementation over generated inputs, catching regex-semantics drift
(Java vs Python ``re``, SURVEY.md §7.4.3) and boundary bugs the DuckDB
value-hash can miss. Input alphabet is the HL7/clinical-text domain
(printable ASCII + newline/tab + HL7 specials) — the contract the cleaning
functions are defined over, where Java and Python regex agree; full
Unicode line-terminator semantics intentionally differ and are out of
contract.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dataengineer_spark.functions.cleaning import clean_msg
from dataengineer_spark.functions.truncate import truncate_text_chars
from dataengineer_spark.operators.preparation import SPLIT_MULT, train_test_split
from dataengineer_spark.operators.textops import token_count

TEXT = st.text(
    alphabet=st.sampled_from(
        [chr(c) for c in range(0x20, 0x7F)] + ["\n", "\t", "\x00", "\x0b"]
    ),
    max_size=200,
)

prop = settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _py_clean(s: str) -> str:
    s = re.sub(r"\\\.br\\\.?|~|\\X0D\\|\\X0A\\|\r\n?", "\n", s)
    s = re.sub(r"(?m)^[A-Z0-9]{3}\|[^|]*\|", "", s)
    s = re.sub(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", " ", s)
    s = re.sub(r"[ \t]+", " ", s)
    s = re.sub(r"\n{2,}", "\n", s)
    return s.strip()


class TestCleanMsgParity:
    @prop
    @given(st.lists(TEXT, min_size=1, max_size=20))
    def test_matches_python_re(self, spark, texts):
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
        got = {
            r["i"]: r["c"]
            for r in df.select("i", clean_msg("t").alias("c")).collect()
        }
        for i, t in enumerate(texts):
            assert got[i] == _py_clean(t), repr(t)


class TestTruncateParity:
    @prop
    @given(
        st.lists(TEXT, min_size=1, max_size=20),
        st.integers(min_value=1, max_value=50),
        st.sampled_from(["entire report", "gross_or_micro", "diag_or_add"]),
    )
    def test_matches_python_slices(self, spark, texts, budget, part):
        df = spark.createDataFrame(
            [(i, t, part) for i, t in enumerate(texts)], "i long, t string, p string"
        )
        got = {
            r["i"]: r["o"]
            for r in df.select(
                "i", truncate_text_chars("t", "p", budget).alias("o")
            ).collect()
        }
        for i, t in enumerate(texts):
            if len(t) <= budget:
                want = t
            elif part == "entire report":
                want = t[-budget:]
            else:
                want = t[:budget]
            assert got[i] == want, (repr(t), budget, part)


class TestTokenCountParity:
    @prop
    @given(st.lists(TEXT, min_size=1, max_size=20))
    def test_matches_python_split(self, spark, texts):
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
        got = {
            r["i"]: r["n"]
            for r in df.select("i", token_count("t").alias("n")).collect()
        }
        for i, t in enumerate(texts):
            # contract: ASCII whitespace tokens; Java \s == Python \s here
            stripped = t.strip(" \t\n\r\x0b\x0c")
            want = 0 if stripped == "" else len(re.split(r"\s+", stripped))
            assert got[i] == want, repr(t)


class TestSectionizeParity:
    # text built from the clinical-header vocabulary + filler so matches,
    # partial matches, and case variants all occur
    SECTION_TEXT = st.lists(
        st.sampled_from(
            [
                "GROSS DESCRIPTION: specimen received fresh",
                "gross: two fragments",
                "Addendum: revised",
                "DIAGNOSIS: carcinoma",
                "diagnosis comment: see note",
                "Comment: margins clear",
                "MICROSCOPIC DESCRIPTION: sheets of cells",
                "micro: unremarkable",
                "plain narrative line",
                "gross",  # header word without colon → no match
                "",
            ]
        ),
        min_size=1,
        max_size=6,
    ).map(lambda lines: "\n".join(lines))

    @prop
    @given(st.lists(SECTION_TEXT, min_size=1, max_size=15))
    def test_matches_python_re(self, spark, texts):
        from dataengineer_spark.functions.sections import (
            DEFAULT_PATTERNS,
            SECTION_NAMES,
            create_sections,
        )

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "i long, t string"
        )
        got = {
            r["i"]: r
            for r in df.select("i", create_sections("t").alias("s"))
            .select("i", "s.*")
            .collect()
        }
        for i, t in enumerate(texts):
            for name in SECTION_NAMES:
                m = re.search(DEFAULT_PATTERNS[name], t)
                want = m.group(1) if m else ""
                assert got[i][name] == want, (name, repr(t))


class TestSplitInvariance:
    @pytest.mark.parametrize("parts", [1, 7])
    def test_assignment_independent_of_partitioning(self, spark, parts):
        df = spark.range(0, 500).withColumnRenamed("id", "k").repartition(parts)
        got = {
            r["k"]: r["split"]
            for r in train_test_split(df, "k").collect()
        }
        want = {}
        for k in range(500):
            b = (k * SPLIT_MULT) % 100
            want[k] = "train" if b < 80 else ("valid" if b < 90 else "test")
        assert got == want


def _py_repetition(text: str) -> tuple[float, float]:
    """Pure-Python reference for textops.repetition_signals."""
    lines = [x for x in text.split("\n") if re.sub(r"^\s+|\s+$", "", x) != ""]
    dup = 0.0 if not lines else 1 - len(set(lines)) / len(lines)
    t = re.sub(r"^\s+|\s+$", "", text.lower())
    words = t.split() if t else []
    # python str.split collapses whitespace like the \s+ regex split
    bgs = [f"{a} {b}" for a, b in zip(words, words[1:])]
    if not bgs:
        return dup, 0.0
    from collections import Counter

    return dup, Counter(bgs).most_common(1)[0][1] / len(bgs)


class TestRepetitionParity:
    @prop
    @given(st.lists(TEXT, min_size=1, max_size=8))
    def test_matches_python_reference(self, spark, texts):
        from dataengineer_spark.operators.textops import repetition_signals

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["dup_line_frac"], r["top_bigram_share"])
            for r in repetition_signals(df).collect()
        }
        for i, t in enumerate(texts):
            exp = _py_repetition(t)
            assert abs(got[i][0] - exp[0]) < 1e-9, (t, got[i], exp)
            assert abs(got[i][1] - exp[1]) < 1e-9, (t, got[i], exp)


class TestPackingProperties:
    @prop
    @given(
        st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=40),
        st.integers(min_value=100, max_value=1000),
    )
    def test_offset_binning_invariants(self, spark, sizes, budget):
        from dataengineer_spark.operators.preparation import pack_sequences

        df = spark.createDataFrame(
            [(i, n) for i, n in enumerate(sizes)], "doc_id long, tokens long"
        )
        out = sorted(
            (r["doc_id"], r["pack_id"])
            for r in pack_sequences(df, "doc_id", "tokens", budget, n_buckets=1).collect()
        )
        # reference: concat-and-chunk on cumulative offsets in id order
        off, expected = 0, []
        for i, n in enumerate(sizes):
            expected.append((i, off // budget))
            off += n
        assert out == expected
        # packs are monotone in id order and every pack id is reachable
        packs = [p for _, p in out]
        assert packs == sorted(packs)


class TestChunkingProperties:
    @prop
    @given(
        st.lists(
            st.integers(min_value=0, max_value=60), min_size=1, max_size=8
        ),
        st.integers(min_value=2, max_value=16),
        st.integers(min_value=0, max_value=8),
    )
    def test_chunk_invariants(self, spark, doc_lens, chunk, overlap):
        from dataengineer_spark.operators.preparation import chunk_documents

        if overlap >= chunk:
            overlap = chunk - 1
        stride = chunk - overlap
        rows = [
            (i, " ".join(f"t{i}_{j}" for j in range(n))) for i, n in enumerate(doc_lens)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {}
        for r in chunk_documents(df, chunk_tokens=chunk, overlap=overlap).collect():
            out.setdefault(r["id"], []).append(r)
        for i, n in enumerate(doc_lens):
            chunks = sorted(out.get(i, []), key=lambda r: r["chunk_id"])
            if n == 0:
                assert chunks == []
                continue
            # reference: starts at 1, 1+stride, ...; emit while the previous
            # window fell short of the end
            exp_starts, s = [], 1
            while s == 1 or (s - stride + chunk - 1) < n:
                if s > n:
                    break
                exp_starts.append(s)
                s += stride
            assert [r["start_token"] for r in chunks] == exp_starts
            # every token covered; adjacent chunks overlap by exactly
            # `overlap` tokens (except a short tail); text round-trips
            covered = set()
            for r in chunks:
                toks = r["chunk_text"].split(" ")
                assert len(toks) == r["n_tokens"]
                assert toks == [
                    f"t{i}_{j - 1}"
                    for j in range(r["start_token"], r["start_token"] + r["n_tokens"])
                ]
                covered |= set(range(r["start_token"], r["start_token"] + r["n_tokens"]))
            assert covered == set(range(1, n + 1))


class TestScd2Invariants:
    @prop
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=8),        # key
                st.sampled_from(["a", "b", "c", None]),       # new value
                st.integers(min_value=1, max_value=9),        # eff day
            ),
            min_size=1,
            max_size=12,
        )
    )
    def test_one_current_per_key_and_contiguous_history(self, spark, updates):
        from dataengineer_spark.operators.dimensions import scd2_apply

        dim = spark.createDataFrame(
            [(k, "a", "day0", None, True) for k in range(1, 6)],
            "k long, v string, valid_from string, valid_to string, is_current boolean",
        )
        upd = spark.createDataFrame(
            [(k, v, f"day{d}") for k, v, d in updates],
            "k long, v string, eff_date string",
        )
        out = scd2_apply(dim, upd, ["k"], ["v"]).collect()
        by_key: dict[int, list] = {}
        for r in out:
            by_key.setdefault(r["k"], []).append(r)
        for k, rows in by_key.items():
            # exactly one current version per key, with open valid_to
            current = [r for r in rows if r["is_current"]]
            assert len(current) == 1, (k, rows)
            assert current[0]["valid_to"] is None
            # every closed row's valid_to equals some version's valid_from
            closed = [r for r in rows if not r["is_current"]]
            froms = {r["valid_from"] for r in rows}
            for c in closed:
                assert c["valid_to"] in froms, (k, c, froms)


class TestSetSimJoinExactness:
    @prop
    @given(
        st.lists(
            st.lists(
                st.sampled_from("abcdefgh"), min_size=1, max_size=12
            ).map(lambda ws: " ".join(ws)),
            min_size=2,
            max_size=12,
        ),
        st.sampled_from([0.4, 0.6, 0.8]),
    )
    def test_no_false_negatives_vs_brute_force(self, spark, texts, t):
        """The PPJoin prefix filter must be LOSSLESS: output == the
        brute-force exact word-set Jaccard join at the same threshold."""
        from dataengineer_spark.operators.dedup import setsim_join

        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(texts)], "doc_id long, text string"
        )
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in setsim_join(df, "text", "doc_id", t).collect()
        }
        spark.catalog.clearCache()
        sets = {i: set(s.split()) for i, s in enumerate(texts)}
        want = {}
        for a in sets:
            for b in sets:
                if a < b and sets[a] and sets[b]:
                    inter = len(sets[a] & sets[b])
                    uni = len(sets[a] | sets[b])
                    if inter / uni >= t:
                        want[(a, b)] = round(inter / uni, 6)
        assert got == want


class TestRocAucParity:
    @prop
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=20),  # coarse score → ties
                st.booleans(),
            ),
            min_size=4,
            max_size=60,
        )
    )
    def test_matches_pair_counting(self, spark, rows):
        from dataengineer_spark.operators.aggregates import roc_auc

        labels = {y for _, y in rows}
        if len(labels) < 2:
            return  # AUC undefined without both classes
        df = spark.createDataFrame(
            [(float(s), bool(y)) for s, y in rows], "score double, y boolean"
        )
        got = roc_auc(df, "score", F.col("y")).first()
        pos = [s for s, y in rows if y]
        neg = [s for s, y in rows if not y]
        num = sum(
            1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg
        )
        assert got["auc"] == round(num / (len(pos) * len(neg)), 6)
        assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)


class TestEqualFrequencyBinInvariants:
    @prop
    @given(
        st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=80),
        st.sampled_from([2, 4, 5]),
    )
    def test_monotone_and_bounded(self, spark, vals, k):
        from dataengineer_spark.operators.preparation import equal_frequency_bin

        df = spark.createDataFrame([(v,) for v in vals], "v long")
        out = [
            (r["v"], r["v_bin"])
            for r in equal_frequency_bin(df, "v", k).collect()
        ]
        # bins are within 1..k, monotone in value, equal values share a bin
        by_val = {}
        for v, b in out:
            assert 1 <= b <= k
            assert by_val.setdefault(v, b) == b
        items = sorted(by_val.items())
        assert all(b1 <= b2 for (_, b1), (_, b2) in zip(items, items[1:]))
        # a bin never exceeds the population of values <= its upper edge:
        # floor-based edges guarantee each bin holds < n/k + max multiplicity
        from collections import Counter

        n = len(vals)
        counts = Counter(b for _, b in out)
        max_mult = max(Counter(vals).values())
        assert all(c <= n / k + max_mult for c in counts.values())

    def test_null_rows_pass_through_with_null_bin(self, spark):
        # ADVICE r4: NULLs must not be silently dropped by the bin join,
        # and must not distort the non-null bin edges
        from dataengineer_spark.operators.preparation import equal_frequency_bin

        df = spark.createDataFrame(
            [(1,), (2,), (3,), (4,), (None,), (None,)], "v long"
        )
        out = [(r["v"], r["v_bin"]) for r in equal_frequency_bin(df, "v", 2).collect()]
        assert len(out) == 6
        bins = dict((v, b) for v, b in out if v is not None)
        assert bins == {1: 1, 2: 1, 3: 2, 4: 2}  # edges from the 4 non-nulls
        assert all(b is None for v, b in out if v is None)


class TestMixtureUpsampleInvariants:
    @prop
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=500),
                st.sampled_from(["a", "b", "c"]),
            ),
            min_size=1,
            max_size=40,
            unique_by=lambda t: t[0],
        ),
        st.floats(min_value=0.0, max_value=3.5, allow_nan=False),
    )
    def test_output_count_matches_rule_exactly(self, spark, rows, factor):
        from dataengineer_spark.operators.preparation import (
            SPLIT_MULT, UPSAMPLE_SALT, mixture_upsample,
        )

        df = spark.createDataFrame(rows, "doc_id long, source string")
        out = mixture_upsample(df, "doc_id", "source", {"b": factor}).collect()
        whole, frac_thr = int(factor), int((factor % 1.0) * 100_000 + 0.5)
        expect = 0
        for doc_id, src in rows:
            if src == "b":
                expect += whole + (
                    1
                    if (doc_id * SPLIT_MULT + UPSAMPLE_SALT) % 100_000 < frac_thr
                    else 0
                )
            else:
                expect += 1
        assert len(out) == expect
        # stable under repartitioning (no RNG state)
        out2 = mixture_upsample(
            df.repartition(5), "doc_id", "source", {"b": factor}
        ).collect()
        assert sorted((r["doc_id"], r["copy_n"]) for r in out) == sorted(
            (r["doc_id"], r["copy_n"]) for r in out2
        )


class TestNormalizeTextProperties:
    @prop
    @given(TEXT)
    def test_idempotent_and_canonical(self, spark, s):
        from dataengineer_spark.functions.cleaning import normalize_text

        df = spark.createDataFrame([(s,)], "t string")
        once = df.select(normalize_text("t").alias("n")).first()["n"]
        twice = (
            spark.createDataFrame([(once,)], "t string")
            .select(normalize_text("t").alias("n"))
            .first()["n"]
        )
        assert twice == once
        assert once == once.strip()
        assert "  " not in once and "\t" not in once and "\n" not in once
        assert once == once.lower()


class TestDuplicationProfileInvariants:
    @prop
    @given(
        st.lists(
            st.sampled_from(["x", "y", "z", "w", "v"]),
            min_size=1,
            max_size=30,
        )
    )
    def test_histogram_accounts_for_every_row(self, spark, texts):
        from collections import Counter

        from dataengineer_spark.operators.quality import duplication_profile

        rows = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = duplication_profile(df, "text").collect()
        assert sum(r["n_docs"] for r in out) == len(texts)
        assert all(
            r["n_docs"] == r["cluster_size"] * r["n_clusters"] for r in out
        )
        sizes = Counter(Counter(texts).values())
        assert {r["cluster_size"]: r["n_clusters"] for r in out} == dict(sizes)


class TestIntervalOverlapProperty:
    @prop
    @given(
        ivs=st.lists(
            st.tuples(
                st.integers(0, 2),          # key
                st.integers(0, 500),        # start
                st.integers(0, 120),        # span
            ),
            min_size=2,
            max_size=12,
        ),
        bucket=st.sampled_from([7, 50, 128]),
    )
    def test_matches_brute_force(self, spark, ivs, bucket):
        # bucket decomposition must be exactly the theta join: complete
        # (no pair missed across bucket boundaries) and emit-once
        from dataengineer_spark.operators.joins import interval_overlap_join

        rows = [
            (k, i, s, s + span) for i, (k, s, span) in enumerate(ivs)
        ]
        df = spark.createDataFrame(rows, "k long, id long, s long, e long")
        got = sorted(
            (r["id_a"], r["id_b"], r["overlap_s"])
            for r in interval_overlap_join(
                df, "k", "s", "e", "id", bucket
            ).collect()
        )
        want = sorted(
            (ia, ib, min(ea, eb) - max(sa, sb))
            for (ka, ia, sa, ea) in rows
            for (kb, ib, sb, eb) in rows
            if ka == kb and ia < ib and sa <= eb and sb <= ea
        )
        assert got == want


class TestPrCurveProperty:
    @prop
    @given(
        pts=st.lists(
            st.tuples(
                st.floats(-1, 1, allow_nan=False, width=32),
                st.booleans(),
            ),
            min_size=1,
            max_size=30,
        )
    )
    def test_recall_monotone_and_positives_conserved(self, spark, pts):
        from dataengineer_spark.operators.aggregates import pr_curve

        df = spark.createDataFrame(
            [(float(s), y) for s, y in pts], "score double, y boolean"
        )
        grid = [-0.5, 0.0, 0.5]
        rows = sorted(
            pr_curve(df, "score", F.col("y"), grid).collect(),
            key=lambda r: r["threshold"],
        )
        n_pos = sum(1 for _, y in pts if y)
        recalls = []
        for r in rows:
            assert r["tp"] + r["fn"] == n_pos  # positives conserved
            recalls.append(r["recall"] if r["recall"] is not None else 0.0)
        # raising the threshold can only lose retrieved positives
        assert all(a >= b for a, b in zip(recalls, recalls[1:]))


class TestKfoldProperty:
    @prop
    @given(groups=st.lists(st.text(
        alphabet=st.sampled_from("abcdefgh"), min_size=1, max_size=6
    ), min_size=1, max_size=20), k=st.sampled_from([2, 5, 7]))
    def test_partitioning_invariant(self, spark, groups, k):
        # fold is a pure function of the key: any repartitioning/row
        # order yields the identical assignment
        from dataengineer_spark.operators.preparation import kfold_assign

        df = spark.createDataFrame([(g,) for g in groups], "g string")
        a = sorted(
            (r["g"], r["fold"])
            for r in kfold_assign(df, "g", k, "s").collect()
        )
        b = sorted(
            (r["g"], r["fold"])
            for r in kfold_assign(df.repartition(7), "g", k, "s").collect()
        )
        assert a == b
        assert all(0 <= f < k for _, f in a)


class TestVocabCoverageProperty:
    @prop
    @given(words=st.lists(st.sampled_from("abcde"), min_size=1, max_size=60),
           pct=st.sampled_from([50, 80, 100]))
    def test_minimal_covering_prefix(self, spark, words, pct):
        from dataengineer_spark.operators.preparation import vocab_coverage

        df = spark.createDataFrame([(" ".join(words),)], "text string")
        rows = sorted(
            vocab_coverage(df, coverage_pct=pct).collect(),
            key=lambda r: r["rank"],
        )
        total = len(words)
        assert rows, "at least one word always covers something"
        # the kept prefix reaches the target...
        assert rows[-1]["cum_n"] * 100 >= total * pct
        # ...and is minimal: dropping its last word falls short
        assert (rows[-1]["cum_n"] - rows[-1]["n"]) * 100 < total * pct
        # ranks are the contiguous prefix 1..len
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))


class TestCusumShiftInvariance:
    @given(
        vals=st.lists(
            st.floats(min_value=-100, max_value=100, allow_nan=False),
            min_size=2, max_size=12,
        ),
        shift=st.floats(min_value=-50, max_value=50, allow_nan=False),
    )
    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_location_invariant_under_constant_shift(self, spark, vals, shift):
        """CUSUM subtracts the mean, so adding a constant to every value
        must leave the change-point location AND the cusum value
        unchanged (up to the fixed-point micro-unit rounding)."""
        import datetime as dt
        from dataengineer_spark.operators.events import cusum_changepoint

        t0 = dt.datetime(2024, 1, 1)
        mk = lambda off: [
            ("k", t0 + dt.timedelta(minutes=i), i, v + off)
            for i, v in enumerate(vals)
        ]
        df_a = spark.createDataFrame(mk(0.0), ["k", "ts", "eid", "v"])
        df_b = spark.createDataFrame(mk(shift), ["k", "ts", "eid", "v"])
        ra = cusum_changepoint(df_a, "k", "ts", "v", "eid").collect()[0]
        rb = cusum_changepoint(df_b, "k", "ts", "v", "eid").collect()[0]
        assert ra["change_id"] == rb["change_id"]
        # micro-unit quantization of the shift can move the cusum by at
        # most n * half-units / n = one half micro-unit
        assert abs(ra["cusum"] - rb["cusum"]) <= 1e-4


class TestPreferencePairInvariants:
    @given(
        scores=st.lists(
            st.floats(min_value=-1000, max_value=1000, allow_nan=False),
            min_size=1, max_size=15, unique=True,
        ),
    )
    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_zero_margin_yields_floor_half_pairs(self, spark, scores):
        """With margin 0 and unique scores, every mirror pair survives:
        exactly floor(n/2) pairs, each chosen strictly above its
        rejected, and no id on both sides of any pair."""
        from dataengineer_spark.operators.preparation import preference_pairs

        rows = [("g", i, s) for i, s in enumerate(scores)]
        df = spark.createDataFrame(rows, ["g", "i", "s"])
        out = preference_pairs(df, "g", "i", "s", margin=0.0).collect()
        assert len(out) == len(scores) // 2
        for r in out:
            assert r["chosen_score"] > r["rejected_score"]
            assert r["chosen_id"] != r["rejected_id"]
        ids = [r["chosen_id"] for r in out] + [r["rejected_id"] for r in out]
        assert len(ids) == len(set(ids))  # each candidate in ≤1 pair


class TestProrationConservation:
    @given(
        spans=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=365),   # start offset
                st.integers(min_value=0, max_value=90),    # length days
                st.floats(min_value=0.01, max_value=1e6, allow_nan=False),
            ),
            min_size=1, max_size=10,
        ),
    )
    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_monthly_allocations_conserve_totals(self, spark, spans):
        """Summed over all months, prorated allocations equal the input
        total to within the documented integral-rounding bound (one
        half micro-unit per row-month)."""
        import datetime as dt
        from dataengineer_spark.operators.joins import interval_proration

        base = dt.date(2024, 1, 1)
        rows = [
            (i, base + dt.timedelta(days=o), base + dt.timedelta(days=o + l), v)
            for i, (o, l, v) in enumerate(spans)
        ]
        df = spark.createDataFrame(rows, ["id", "s", "e", "v"])
        out = interval_proration(df, "s", "e", "v", "id").collect()
        got = sum(r["allocated"] for r in out)
        want = sum(round(v * 10000) / 10000 for _, _, v in spans)
        n_row_months = sum(r["n_lines"] for r in out)
        assert abs(got - want) <= n_row_months * 0.00005 + 1e-9


class TestRankingEvalBounds:
    @given(
        rels=st.lists(st.integers(min_value=0, max_value=3),
                      min_size=1, max_size=10),
    )
    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_ndcg_in_unit_interval_and_ideal_is_one(self, spark, rels):
        """nDCG is bounded by construction (DCG ≤ IDCG over the same
        candidate set); re-ranking the list ideally gives exactly 1."""
        from dataengineer_spark.operators.ranking import ranking_eval

        rows = [("q", i + 1, r) for i, r in enumerate(rels)]
        df = spark.createDataFrame(rows, ["q", "rk", "rel"])
        out = ranking_eval(df, "q", "rk", "rel", k=10).collect()[0]
        if out["ndcg"] is not None:
            assert 0.0 <= out["ndcg"] <= 1.0
        ideal = [("q", i + 1, r) for i, r in enumerate(
            sorted(rels, reverse=True))]
        df_i = spark.createDataFrame(ideal, ["q", "rk", "rel"])
        out_i = ranking_eval(df_i, "q", "rk", "rel", k=10).collect()[0]
        if out_i["ndcg"] is not None:
            assert out_i["ndcg"] == 1.0


class TestRankingEvalPythonParity:
    @given(
        data=st.lists(  # per query: list of rels; rank = position + 1
            st.lists(st.integers(min_value=0, max_value=3),
                     min_size=1, max_size=12),
            min_size=1, max_size=4,
        ),
        k=st.integers(min_value=1, max_value=8),
    )
    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_matches_textbook_python(self, spark, data, k):
        """Spark ranking_eval vs an independent pure-Python textbook
        nDCG@k (DCG over the system's top-k, IDCG over the FULL judged
        set — the round-7 review fix) on generated graded rankings."""
        from dataengineer_spark.operators.ranking import (
            ndcg_discounts,
            ranking_eval,
        )

        rows = [
            (f"q{qi}", i + 1, r)
            for qi, rels in enumerate(data)
            for i, r in enumerate(rels)
        ]
        df = spark.createDataFrame(rows, ["q", "rk", "rel"])
        got = {
            r["query"]: r for r in ranking_eval(df, "q", "rk", "rel", k=k).collect()
        }
        disc = ndcg_discounts(k)
        for qi, rels in enumerate(data):
            items = [(i + 1, r) for i, r in enumerate(rels)]
            dcg = sum((2.0 ** r - 1) * disc[rk - 1] for rk, r in items if rk <= k)
            ideal = sorted(items, key=lambda x: (-x[1], x[0]))[:k]
            idcg = sum((2.0 ** r - 1) * disc[i] for i, (_, r) in enumerate(ideal))
            hits = sum(1 for rk, r in items if r > 0 and rk <= k)
            first = min((rk for rk, r in items if r > 0 and rk <= k), default=None)
            row = got[f"q{qi}"]
            assert row["hits"] == hits
            assert abs(row["dcg"] - dcg) <= 1e-6
            assert abs(row["idcg"] - idcg) <= 1e-6
            if idcg > 0:
                assert abs(row["ndcg"] - dcg / idcg) <= 1e-6
            else:
                assert row["ndcg"] is None
            if first is None:
                assert row["rr"] is None
            else:
                assert abs(row["rr"] - 1.0 / first) <= 1e-6


class TestRboPythonParity:
    @given(
        perm_a=st.permutations(list(range(12))),
        perm_b=st.permutations(list(range(12))),
        k=st.integers(min_value=1, max_value=10),
        cut_b=st.integers(min_value=1, max_value=12),
    )
    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_matches_direct_formula(self, spark, perm_a, perm_b, k, cut_b):
        """Spark rbo_overlap vs the direct truncated-RBO definition
        (1-p)·Σ p^(d-1)·X_d/d with X_d the overlap of the depth-d
        prefixes — including ragged list lengths (B cut short)."""
        from dataengineer_spark.operators.ranking import rbo_overlap

        p = 0.9
        a = spark.createDataFrame(
            [("q", it, rk + 1) for rk, it in enumerate(perm_a)],
            ["q", "item", "rk"],
        )
        b_items = list(perm_b)[:cut_b]
        b = spark.createDataFrame(
            [("q", it, rk + 1) for rk, it in enumerate(b_items)],
            ["q", "item", "rk"],
        )
        row = rbo_overlap(a, b, "q", "item", "rk", k=k, p=p).collect()[0]
        direct = 0.0
        for d in range(1, k + 1):
            xd = len(set(perm_a[:d]) & set(b_items[:d]))
            direct += p ** (d - 1) * xd / d
        direct *= 1.0 - p
        assert abs(row["rbo"] - direct) <= 1e-6
        assert row["n_overlap"] == len(set(perm_a[:k]) & set(b_items[:k]))


class TestPpsPythonParity:
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=10_000),  # id
                st.integers(min_value=-5, max_value=5_000),  # weight
            ),
            min_size=1, max_size=60, unique_by=lambda t: t[0],
        ),
        n=st.integers(min_value=1, max_value=20),
    )
    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_matches_integer_reference(self, spark, rows, n):
        """Spark pps_systematic_sample vs the pure-integer reference
        cumsum/threshold rule — must agree EXACTLY on any partitioning
        (the operator's core determinism claim, preserved across the
        round-7 localCheckpoint rewrite)."""
        from dataengineer_spark.operators.preparation import pps_systematic_sample

        df = spark.createDataFrame(rows, "doc_id long, w long").repartition(3)
        got = sorted(
            (r["doc_id"], r["weight"])
            for r in pps_systematic_sample(df, "doc_id", "w", n=n, n_part=4).collect()
        )
        pos = sorted((i, w) for i, w in rows if w > 0)
        total = sum(w for _, w in pos)
        want, cum = [], 0
        for i, w in pos:
            lo, cum = cum, cum + w
            if total and (cum * n) // total > (lo * n) // total:
                want.append((i, w))
        assert got == want


class TestPortablePolyParity:
    """The portable poly hash's Spark SQL builders must equal the
    pure-Python fold for EVERY length, not just pinned ones: the word
    fold (``preparation._poly_hash_sql``) and the unrolled mod-every-8
    fold (``preparation._poly_unrolled_sql``) under both of its
    per-character reads — ``element_at`` of the staged codepoint array
    (the MinHash shingle stage) and ``ascii(substr(...))`` of a lambda
    variable (the winnowing sketch).  The int64-overflow proof depends
    on the mod cadence, and a cadence edit would silently break
    DuckDB-oracle bit-parity."""

    @given(
        texts=st.lists(
            st.text(
                alphabet=st.sampled_from(
                    [chr(c) for c in range(0x20, 0x7F)]
                    + ["é", "ü", "ß", "λ", "中", "🙂"]
                ),
                min_size=1,
                max_size=40,
            ),
            min_size=1,
            max_size=12,
        )
    )
    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def test_fixed_matches_fold_and_python(self, spark, texts):
        from functools import reduce

        from dataengineer_spark.operators.dedup import (
            _shingle_hashes_from_cps_sql,
        )
        from dataengineer_spark.operators.preparation import (
            _POLY_MOD, _poly_hash_sql, _poly_unrolled_sql,
        )

        rows = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "id long, s string").select(
            "id", "s",
            F.expr(
                "transform(split(`s`, ''), x -> CAST(ascii(x) AS BIGINT))"
            ).alias("_cps"),
        )
        # a text of exactly n chars is its own single n-shingle, so the
        # staged-codepoint caller returns [unrolled fold of the whole
        # text]; the unrolled fold also reads a lambda variable per char.
        # One unrolled expression per distinct length present
        lengths = sorted({len(t) for t in texts})
        cps = F.coalesce(*[
            F.when(
                F.length("s") == n,
                F.expr(_shingle_hashes_from_cps_sql("`s`", "`_cps`", n))[0],
            )
            for n in lengths
        ])
        def substr_fold(n):
            fold = _poly_unrolled_sql(
                lambda j: f"CAST(ascii(substr(t, {j + 1}, 1)) AS BIGINT)", n
            )
            return F.expr(f"transform(array(`s`), t -> {fold})")[0]

        substr = F.coalesce(*[
            F.when(F.length("s") == n, substr_fold(n)) for n in lengths
        ])
        out = df.select(
            "id",
            F.expr(_poly_hash_sql("`s`")).alias("fold"),
            cps.alias("cps"),
            substr.alias("substr"),
        ).collect()
        py = {
            i: reduce(lambda acc, ch: (acc * 31 + ord(ch)) % _POLY_MOD, t, 0)
            for i, t in rows
        }
        for r in out:
            want = py[r["id"]]
            assert (r["fold"], r["cps"], r["substr"]) == (want,) * 3, (
                r, want,
            )
