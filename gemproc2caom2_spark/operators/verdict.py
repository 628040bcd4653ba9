"""Verdict stage: keep/drop + drop_reason precedence chain.

The reference's fitness gates fire in a strict order and the first
failing gate determines the outcome (product-type gate deletes chunks
main_app.py:221-224,260-264; sentinel null-out :251-259; missing-input
guards :344-346,415-416). The web verdict is the same pattern: an
ordered F.when chain where the FIRST failing rule supplies drop_reason.
Rule order is part of the contract (deterministic F1 vs goldens) and is
pinned here in DROP_PRECEDENCE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gemproc2caom2_spark.operators.heuristics import (
    DEFAULT_RULES,
    RuleConfig,
    placeholder_flag,
)

# (reason, predicate-factory) evaluated strictly in this order —
# cheapest gates first (length before langid before model scores), the
# cheap-source-first ordering the reference hand-codes at
# provenance_augmentation.py:223-227.
DROP_PRECEDENCE = (
    "empty", "rejected", "min_length", "max_length", "min_words",
    "placeholder", "langid", "symbol_ratio", "rare_chars",
    "repeated_lines", "perplexity", "duplicate",
)


def _text_gates(
    text: Column, q: Column, lang_pred: Column, rules: RuleConfig
) -> list[tuple[str, Column]]:
    """The nine text-derived gates — every DROP_PRECEDENCE entry except
    ``rejected`` (an input flag) and the two model gates — as
    (reason, predicate) pairs in precedence order. ``q`` is the quality
    struct from heuristics.quality_struct."""
    return [
        ("empty", text.isNull() | (F.length(text) == 0)),
        ("min_length", q.getField("doc_len") < rules.min_doc_len),
        ("max_length", q.getField("doc_len") > rules.max_doc_len),
        ("min_words", q.getField("n_words") < rules.min_words),
        ("placeholder", placeholder_flag(text, rules)),
        ("langid", ~lang_pred.isin(*rules.target_langs)),
        ("symbol_ratio", q.getField("symbol_ratio") > rules.max_symbol_ratio),
        ("rare_chars", q.getField("rare_char_ratio") > rules.max_rare_char_ratio),
        ("repeated_lines",
         q.getField("repeated_line_frac") > rules.max_repeated_line_frac),
    ]


def first_failing(checks: list[tuple[str, Column]]) -> Column:
    """Name of the first check whose predicate holds; null => keep.
    Null-safe: a predicate that could not be computed (null) does not
    fire (the reference's fire-only-when-inputs-present rule)."""
    expr = F.lit(None).cast("string")
    for name, cond in reversed(checks):
        expr = F.when(F.coalesce(cond, F.lit(False)), F.lit(name)).otherwise(expr)
    return expr


def cheap_drop_reason(
    text: Column, q: Column, lang_pred: Column, rules: RuleConfig
) -> Column:
    """First failing text gate — the verdict chain minus ``rejected``
    and the perplexity/duplicate gates, so it is decidable without an
    Arrow stage."""
    return first_failing(_text_gates(text, q, lang_pred, rules))


def drop_reason_expr(
    q: Column,
    lang_pred: Column,
    perplexity: Column,
    is_duplicate: Column,
    is_rejected: Column,
    text: Column,
    rules: RuleConfig = DEFAULT_RULES,
) -> Column:
    """Full first-failing-rule drop reason (``first_failing``); null =>
    keep. ``rejected`` follows ``empty``; perplexity and duplicate come
    last."""
    empty, *rest = _text_gates(text, q, lang_pred, rules)
    checks = [
        empty,
        ("rejected", F.coalesce(is_rejected, F.lit(False))),
        *rest,
        ("perplexity", perplexity > rules.max_perplexity),
        ("duplicate", F.coalesce(is_duplicate, F.lit(False))),
    ]
    assert tuple(name for name, _ in checks) == DROP_PRECEDENCE
    return first_failing(checks)


def with_verdict(
    df: DataFrame,
    rules: RuleConfig = DEFAULT_RULES,
    text_col: str = "text_extracted",
    quality_col: str = "quality",
    lang_col: str = "lang_pred",
    ppl_col: str = "perplexity",
    dup_col: str = "is_duplicate",
    rejected_col: str | None = None,
) -> DataFrame:
    reason = drop_reason_expr(
        F.col(quality_col),
        F.col(lang_col),
        F.col(ppl_col),
        F.col(dup_col) if dup_col in df.columns else F.lit(False),
        F.col(rejected_col) if rejected_col and rejected_col in df.columns else F.lit(False),
        F.col(text_col),
        rules,
    )
    return df.withColumn("drop_reason", reason).withColumn(
        "keep", F.col("drop_reason").isNull()
    )
