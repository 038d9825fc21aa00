"""ML-inference operators (M1/M2/M4, SURVEY.md §2.7).

The reference ran transformer inference in-process over whole pandas
columns (``Torch_model(...).apply_model(series)`` → [predicted_label,
model_score], reference dx_group.py:236-258; Longformer QA per row×section,
prostate_dag.py:103-124). Spark-first redesign: Arrow-batched pandas UDFs
with a **per-executor model cache** — the model loads once per Python
worker, every Arrow batch reuses it; 1000 executors = 1000 model copies,
zero driver involvement.

Torch/transformers are not in this container, so the real model path is
gated behind an import-try; the **deterministic stand-in** (pmod of a
stable hash → LABEL_k, SURVEY.md §5.2.2) is the oracle-checkable skeleton
used by the pipeline-shape queries.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_PRED_SCHEMA = T.StructType(
    [
        T.StructField("predicted_label", T.StringType()),
        T.StructField("model_score", T.DoubleType()),
    ]
)

_MODEL_CACHE: dict[str, object] = {}  # per-executor-process singleton cache


def _standin_classifier_s(text: str, num_labels: int = 16) -> str:
    """SQL text of ``standin_classifier`` over the SQL fragment ``text``.
    ``1000.0D`` is a DOUBLE literal (a bare ``1000.0`` is DECIMAL)."""
    h = f"abs(xxhash64({text}))"
    return (
        f"named_struct('predicted_label', "
        f"concat('LABEL_', CAST(pmod({h}, {num_labels}) AS STRING)), "
        f"'model_score', CAST(pmod({h}, 1000) AS DOUBLE) / 1000.0D)"
    )


def standin_classifier(text: str, num_labels: int = 16) -> Column:
    """M1 stand-in — deterministic 'classifier': label = pmod(xxhash64
    (text), num_labels) as 'LABEL_k', score = (pmod(hash,1000))/1000.
    ``text`` is a column name or SQL fragment.

    One SQL expression (no UDF, fully SQL-expressible for the oracle);
    emits the same 2-field shape as the real model so the pipeline around
    it is identical.
    """
    return F.expr(_standin_classifier_s(text, num_labels))


STANDIN_MULT = 2654435761  # Knuth multiplicative-hash constant


def arith_standin_classifier(
    id_col: Column | str = "msgid",
    text_col: Column | str = "model_input",
    num_labels: int = 16,
) -> Column:
    """Fully SQL-expressible stand-in classifier for oracle-checked

    pipeline-shape queries: hash = (id·MULT + len(text)) mod 1e6, label =
    'LABEL_(hash mod k)', score = (hash mod 1000)/1000. Same output struct
    as the real model; plain integer arithmetic so DuckDB reproduces it.
    """
    i = F.col(id_col) if isinstance(id_col, str) else id_col
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    # pre-fold the id into [0, 2^31) so the multiply stays inside int64
    # for 64-bit ids (ANSI overflow is a hard error); ids < 2^31 —
    # including every oracle fixture — are bit-identical to the
    # unreduced arithmetic the SQL replays
    i = F.pmod(i, F.lit(1 << 31))
    h = F.pmod(i * STANDIN_MULT + F.length(F.coalesce(t, F.lit(""))), F.lit(1_000_000))
    label = F.concat(F.lit("LABEL_"), F.pmod(h, F.lit(num_labels)).cast("string"))
    score = F.pmod(h, F.lit(1000)).cast("double") / 1000.0
    return F.struct(label.alias("predicted_label"), score.alias("model_score"))


class _FakeClassifier:
    """Deterministic stand-in loaded via the ``fake:`` model scheme: same
    callable contract as a transformers text-classification pipeline, so
    the whole Arrow-batched UDF path (batch shape, struct output, executor
    cache) runs for real in tests/queries without torch. Mirrors the
    ``deterministic_fake`` convention in operators/multimodal.py."""

    def __init__(self, num_labels: int):
        self.num_labels = num_labels

    def __call__(self, texts, **_kw):
        out = []
        for t in texts:
            h = sum(ord(c) for c in (t or "")[:64])
            out.append(
                {
                    "label": f"LABEL_{h % self.num_labels}",
                    "score": (h % 1000) / 1000.0,
                }
            )
        return out


class _ProbeClassifier:
    """Lifecycle probe (``probe:`` scheme): every prediction's label is
    ``LOAD_<n>`` where ``n`` is how many times a probe classifier has
    been CONSTRUCTED in this process.  With the per-executor cache
    working, every batch of every task a Python worker ever serves sees
    the same single construction — all labels read ``LOAD_1``; a broken
    cache (re-load per call/batch/task) surfaces as ``LOAD_2+`` in the
    OUTPUT rows, making the executor-side load-once contract assertable
    from the driver (VERDICT r8 item 4)."""

    constructions = 0

    def __init__(self):
        type(self).constructions += 1

    def __call__(self, texts, **_kw):
        n = type(self).constructions
        return [
            {"label": f"LOAD_{n}", "score": float(len(t or "")) / 1e6}
            for t in texts
        ]


class _NumpyProjClassifier:
    """Dependency-free REAL-model stand-in (``numpy:<seed>`` scheme): a
    seeded random-projection text classifier — byte-histogram features
    (256-dim) × a fixed Gaussian weight matrix → softmax — computed
    VECTORIZED over the whole Arrow batch, the same batch-shaped numpy
    compute a torch pipeline does.  Exercises the exact
    ``transformer_classifier`` plumbing (per-executor cache, iterator
    ``pandas_udf``, struct returns) with deterministic outputs and no
    torch (VERDICT r8 item 4; the codec-seam trick from round 7)."""

    def __init__(self, seed: int, num_labels: int):
        import numpy as np

        rng = np.random.default_rng(seed)
        self.w = rng.standard_normal((256, num_labels))
        self.np = np

    def __call__(self, texts, **_kw):
        np = self.np
        feats = np.zeros((len(texts), 256))
        for i, t in enumerate(texts):
            b = np.frombuffer((t or "").encode("utf-8", "ignore"), dtype=np.uint8)
            if b.size:
                feats[i] = np.bincount(b, minlength=256) / b.size
        logits = feats @ self.w
        e = np.exp(logits - logits.max(axis=1, keepdims=True))
        probs = e / e.sum(axis=1, keepdims=True)
        best = probs.argmax(axis=1)
        return [
            {"label": f"LABEL_{k}", "score": float(p)}
            for k, p in zip(best, probs[np.arange(len(texts)), best])
        ]


class _FakeQA:
    """Deterministic QA stand-in (``fake:`` scheme): 'answers' are the
    first whitespace token after the question's first word, or ''."""

    def __call__(self, question=None, context=None, **_kw):
        toks = (context or "").split()
        qword = (question or "").split()[-1].rstrip("?").lower() if question else ""
        for i, t in enumerate(toks[:-1]):
            if t.lower() == qword:
                return {"answer": toks[i + 1], "score": 1.0}
        return {"answer": "", "score": 0.0}


def _load_torch_model(model_location: str, tokenizer_path: str, num_labels: int):
    key = f"cls:{model_location}"
    if model_location.startswith("fake:"):
        return _MODEL_CACHE.setdefault(key, _FakeClassifier(num_labels))
    if model_location.startswith("probe:"):
        if key not in _MODEL_CACHE:  # setdefault would construct per call
            _MODEL_CACHE[key] = _ProbeClassifier()
        return _MODEL_CACHE[key]
    if model_location.startswith("numpy:"):
        if key not in _MODEL_CACHE:
            seed = int(model_location.split(":", 1)[1] or 0)
            _MODEL_CACHE[key] = _NumpyProjClassifier(seed, num_labels)
        return _MODEL_CACHE[key]
    if key not in _MODEL_CACHE:
        try:  # optional heavyweight deps — absent in this container
            from transformers import (  # type: ignore
                AutoModelForSequenceClassification,
                AutoTokenizer,
                pipeline,
            )

            tok = AutoTokenizer.from_pretrained(tokenizer_path, use_fast=True)
            model = AutoModelForSequenceClassification.from_pretrained(
                model_location, num_labels=num_labels
            )
            _MODEL_CACHE[key] = pipeline(
                "text-classification", model=model, tokenizer=tok, device=-1
            )
        except ImportError as exc:
            raise NotImplementedError(
                "transformers/torch not installed; use standin_classifier for "
                "deterministic pipeline runs or install the model deps"
            ) from exc
    return _MODEL_CACHE[key]


def transformer_classifier(
    model_location: str,
    tokenizer_path: str,
    num_labels: int = 16,
    max_length: int = 512,
) -> Column:
    """M1 — sequence classification as an iterator pandas UDF factory.

    Returns a Column-producing callable applied to the text column:
    ``df.withColumn("pred", transformer_classifier(...)(F.col("text")))``
    then expand ``pred.*``. Mirrors ``Torch_model(model_name,
    model_location, tokenizer_path, num_labels=16, max_length=512,
    device=-1)`` (reference dx_group.py:236-244) with per-executor loading.
    """

    @F.pandas_udf(_PRED_SCHEMA)
    def infer(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        clf = _load_torch_model(model_location, tokenizer_path, num_labels)
        for texts in batches:
            out = clf(
                [t if t is not None else "" for t in texts],
                truncation=True,
                max_length=max_length,
            )
            yield pd.DataFrame(
                {
                    "predicted_label": [o["label"] for o in out],
                    "model_score": [float(o["score"]) for o in out],
                }
            )

    return infer


def qa_sectionizer(
    model_location: str, tokenizer_location: str, questions: dict[str, str]
) -> Column:
    """M2 — extractive-QA sectionizer factory: one struct field per section

    (reference prostate_dag.py:103-124 ran ``answerquestion(q, text)`` per
    row × 7 sections). One UDF call answers all questions per batch so the
    text crosses the Arrow boundary once, not once per section.
    """
    fields = T.StructType([T.StructField(s, T.StringType()) for s in questions])
    items = sorted(questions.items())

    @F.pandas_udf(fields)
    def answer(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        key = f"qa:{model_location}"
        if model_location.startswith("fake:"):
            _MODEL_CACHE.setdefault(key, _FakeQA())
        if key not in _MODEL_CACHE:
            try:
                from transformers import pipeline  # type: ignore

                _MODEL_CACHE[key] = pipeline(
                    "question-answering",
                    model=model_location,
                    tokenizer=tokenizer_location,
                    device=-1,
                )
            except ImportError as exc:
                raise NotImplementedError(
                    "transformers/torch not installed; QA sectionizer needs "
                    "model deps (regex sectionizer in functions.sections is "
                    "the deterministic alternative)"
                ) from exc
        qa = _MODEL_CACHE[key]
        for texts in batches:
            cols = {s: [] for s, _ in items}
            for t in texts:
                for section, q in items:
                    if not t:
                        cols[section].append(None)
                        continue
                    cols[section].append(qa(question=q, context=t)["answer"])
            yield pd.DataFrame(cols)

    return answer


def constant_classifier(**values) -> list[Column]:
    """M4 — rule-based constant classifier (``site_code='C61.9'``,
    ``behaviour_code='3'``, ``laterality='00'``, score 1.0 — reference
    prostate_dag.py:167-177): just literal columns."""
    return [F.lit(v).alias(k) for k, v in values.items()]
