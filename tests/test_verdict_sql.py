"""The DuckDB oracle's verdict follows RuleConfig: on the 60-doc golden
corpus, the rendered SQL gate chain (plans/queries_text._verdict_ctes,
verdict.drop_reason_sql) names the same drop reason as the Spark chain
(verdict.cheap_drop_reason, drop_reason_expr) on every row, under the
default rules and under rules with other thresholds and a second
target language."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from gemproc2caom2_spark.functions.langid import langid_expr
from gemproc2caom2_spark.operators.heuristics import (
    DEFAULT_RULES,
    LANGID_CAP,
    RuleConfig,
    quality_struct,
)
from gemproc2caom2_spark.operators.verdict import (
    cheap_drop_reason,
    drop_reason_expr,
    drop_reason_sql,
)
from gemproc2caom2_spark.plans.queries_text import _verdict_ctes
from gemproc2caom2_spark.sources.datagen import generate_corpus

# (rules, cheap gates that must fire on the goldens for the check to see them)
RULES = {
    "default": (DEFAULT_RULES, {
        "empty", "min_length", "max_length", "placeholder", "langid",
        "symbol_ratio", "repeated_lines",
    }),
    # min_doc_len is the length of a golden doc, so a < / <= flip shows
    "custom": (
        RuleConfig(min_doc_len=222, min_words=80, max_rare_char_ratio=0.01,
                   target_langs=("en", "es")),
        {"min_length", "min_words", "langid", "rare_chars"},
    ),
}


@pytest.fixture(scope="module")
def docs(spark):
    """The golden corpus text plus per-row rejected/perplexity/duplicate
    inputs, identical for both engines."""
    pdf = generate_corpus(spark, 60).select("url", "text").toPandas()
    pdf["doc_id"] = range(len(pdf))
    pdf["ppl"] = [float(i * 7 % 90) for i in pdf["doc_id"]]
    pdf["rej"] = [i % 11 == 0 for i in pdf["doc_id"]]
    pdf["dup"] = [i % 13 == 0 for i in pdf["doc_id"]]
    return pdf


def _spark_verdicts(spark, docs, rules):
    d = spark.createDataFrame(docs[["doc_id", "text", "ppl", "rej", "dup"]]).select(
        "*",
        quality_struct("text").alias("q"),
        langid_expr(F.substring("text", 1, LANGID_CAP)).alias("lang_pred"),
    )
    text, q, lang = F.col("text"), F.col("q"), F.col("lang_pred")
    rows = d.select(
        "doc_id",
        cheap_drop_reason(text, q, lang, rules).alias("cheap"),
        drop_reason_expr(
            q, lang, F.col("ppl"), F.col("dup"), F.col("rej"), text, rules
        ).alias("reason"),
    ).collect()
    return {r.doc_id: (r.cheap, r.reason) for r in rows}


def _sql_verdicts(docs, rules):
    con = duckdb.connect()
    con.register("documents", docs)
    rows = con.execute(
        _verdict_ctes(rules)
        + f"""
        SELECT doc_id, cheap, {drop_reason_sql("ppl", "dup", "rej", rules)} AS reason
        FROM v"""
    ).fetchall()
    con.close()
    return {doc_id: (cheap, reason) for doc_id, cheap, reason in rows}


@pytest.mark.parametrize("name", sorted(RULES))
def test_sql_verdict_matches_spark_gates(spark, docs, name):
    rules, must_fire = RULES[name]
    got_spark = _spark_verdicts(spark, docs, rules)
    got_sql = _sql_verdicts(docs, rules)
    assert len(got_spark) == len(got_sql) == 60
    diffs = {k: (got_spark[k], got_sql[k]) for k in got_spark if got_spark[k] != got_sql[k]}
    assert not diffs, diffs
    fired = {cheap for cheap, _ in got_sql.values()}
    assert must_fire <= fired, must_fire - fired
    assert {"rejected", "perplexity", "duplicate"} <= {r for _, r in got_sql.values()}
