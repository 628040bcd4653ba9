"""Verdict stage: keep/drop + drop_reason precedence chain.

The reference's fitness gates fire in a strict order and the first
failing gate determines the outcome (product-type gate deletes chunks
main_app.py:221-224,260-264; sentinel null-out :251-259; missing-input
guards :344-346,415-416). The web verdict is the same pattern: an
ordered F.when chain where the FIRST failing rule supplies drop_reason.
Rule order is part of the contract (deterministic F1 vs goldens) and is
pinned here in DROP_PRECEDENCE.

Each gate is written once per engine: ``_text_gates`` for Spark and
``_text_gates_sql`` for the DuckDB oracle, both with thresholds from
the same RuleConfig, folded by ``first_failing``/``first_failing_sql``
and ordered by ``_precedence``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gemproc2caom2_spark.operators.heuristics import (
    DEFAULT_RULES,
    RuleConfig,
    placeholder_flag,
    placeholder_sql,
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


def _text_gates_sql(rules: RuleConfig) -> list[tuple[str, str]]:
    """``_text_gates`` as DuckDB predicates over ``text``, ``lang_pred``
    and the metric columns of heuristics.quality_sql."""
    langs = ", ".join(f"'{lang}'" for lang in rules.target_langs)
    return [
        ("empty", "text IS NULL OR doc_len = 0"),
        ("min_length", f"doc_len < {rules.min_doc_len}"),
        ("max_length", f"doc_len > {rules.max_doc_len}"),
        ("min_words", f"n_words < {rules.min_words}"),
        ("placeholder", placeholder_sql(rules)),
        ("langid", f"lang_pred NOT IN ({langs})"),
        ("symbol_ratio", f"symbol_ratio > {rules.max_symbol_ratio}"),
        ("rare_chars", f"rare_char_ratio > {rules.max_rare_char_ratio}"),
        ("repeated_lines", f"repeated_line_frac > {rules.max_repeated_line_frac}"),
    ]


def first_failing(checks: list[tuple[str, Column]]) -> Column:
    """Name of the first check whose predicate holds; null => keep.
    Null-safe: a predicate that could not be computed (null) does not
    fire (the reference's fire-only-when-inputs-present rule)."""
    expr = F.lit(None).cast("string")
    for name, cond in reversed(checks):
        expr = F.when(F.coalesce(cond, F.lit(False)), F.lit(name)).otherwise(expr)
    return expr


def first_failing_sql(checks: list[tuple[str, str]]) -> str:
    """DuckDB rendering of first_failing: a CASE fold. A null predicate
    does not fire there either, since CASE takes only a true WHEN."""
    whens = "".join(f" WHEN {cond} THEN '{name}'" for name, cond in checks)
    return f"CASE{whens} END"


def _precedence(text_gates: list, rejected: tuple, perplexity: tuple,
                duplicate: tuple) -> list:
    """Either engine's gates in DROP_PRECEDENCE order: ``rejected``
    after ``empty``, the two model gates last."""
    empty, *rest = text_gates
    checks = [empty, rejected, *rest, perplexity, duplicate]
    assert tuple(name for name, _ in checks) == DROP_PRECEDENCE
    return checks


def cheap_drop_reason(
    text: Column, q: Column, lang_pred: Column, rules: RuleConfig
) -> Column:
    """First failing text gate — the verdict chain minus ``rejected``
    and the perplexity/duplicate gates, so it is decidable without an
    Arrow stage."""
    return first_failing(_text_gates(text, q, lang_pred, rules))


def cheap_drop_reason_sql(rules: RuleConfig = DEFAULT_RULES) -> str:
    """DuckDB rendering of cheap_drop_reason (see _text_gates_sql)."""
    return first_failing_sql(_text_gates_sql(rules))


# the text gates that read nothing but the quality struct
_METRIC_GATES = (
    "min_length", "max_length", "min_words",
    "symbol_ratio", "rare_chars", "repeated_lines",
)


def metric_drop_reason(q: Column, rules: RuleConfig) -> Column:
    """First failing gate among those that read only the quality struct
    ``q`` (min/max_length, min_words, symbol_ratio, rare_chars,
    repeated_lines); null => all of them pass."""
    unused = F.lit(None).cast("string")
    gates = _text_gates(unused, q, unused, rules)
    return first_failing([g for g in gates if g[0] in _METRIC_GATES])


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
    return first_failing(_precedence(
        _text_gates(text, q, lang_pred, rules),
        ("rejected", F.coalesce(is_rejected, F.lit(False))),
        ("perplexity", perplexity > rules.max_perplexity),
        ("duplicate", F.coalesce(is_duplicate, F.lit(False))),
    ))


def drop_reason_sql(
    perplexity: str = "NULL",
    is_duplicate: str = "FALSE",
    is_rejected: str = "FALSE",
    rules: RuleConfig = DEFAULT_RULES,
) -> str:
    """DuckDB rendering of drop_reason_expr over the columns of
    _text_gates_sql; the arguments are SQL expressions."""
    return first_failing_sql(_precedence(
        _text_gates_sql(rules),
        ("rejected", is_rejected),
        ("perplexity", f"{perplexity} > {rules.max_perplexity}"),
        ("duplicate", is_duplicate),
    ))


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
