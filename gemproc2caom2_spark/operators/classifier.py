"""Model-based quality filtering — a linear classifier distilled from
the heuristic rule gates.

fastText's supervised classifier — the model the north-star names for
language ID — is architecturally a linear model over pooled text
features; this module implements that shape natively: a logistic
regression over the SAME capped quality metrics the verdict chain
computes, trained DISTRIBUTED with MLlib (LBFGS over treeAggregate —
the scale path for 10^12-doc training sets), scored as a pure JVM
Column expression (no Python, no UDF — the weights inline as literals,
the broadcast-rule-table pattern of operators/heuristics.RuleConfig).

Why distill rules into a model: production quality filters blend hard
gates with learned scores (Gopher uses rules, C4 uses rules, LLaMA-style
pipelines add a classifier trained on reference text); the trained
weights travel as a tiny table (the keyword-map analog,
/root/reference/gemProc2caom2/main_app.py:135-181), and scoring is
SQL-replicable so the whole stage stays oracle-checkable.

Train once, persist the single-row weight table, score anywhere:
the same train-store-probe protocol as the IVF centroids
(operators/similarity.train_ivf_centroids) and the bigram LM
(functions/perplexity.train_bigram_counts).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gemproc2caom2_spark.operators.heuristics import (
    DEFAULT_RULES,
    RuleConfig,
    quality_struct,
)
from gemproc2caom2_spark.operators.verdict import metric_drop_reason

# feature name -> (Spark expr from a quality struct col, SQL expr from
# the oracle CTE's metric fields). Both sides MUST stay in this order:
# the logit is a left-associated sum, and IEEE addition order matters
# for hash-exact comparison.
FEATURE_NAMES = ("log_len", "log_words", "symbol", "repeated", "rare")


def _features(q: Column) -> list[Column]:
    return [
        F.log(F.lit(1.0) + q.getField("doc_len")),
        F.log(F.lit(1.0) + F.coalesce(q.getField("n_words"), F.lit(0))),
        F.coalesce(q.getField("symbol_ratio"), F.lit(0.0)),
        F.coalesce(q.getField("repeated_line_frac"), F.lit(0.0)),
        F.coalesce(q.getField("rare_char_ratio"), F.lit(0.0)),
    ]


def feature_sql(doc_len: str, n_words: str, symbol: str, repeated: str,
                rare: str) -> list[str]:
    """The identical feature arithmetic rendered for the SQL oracle."""
    return [
        f"ln(1.0 + {doc_len})",
        f"ln(1.0 + coalesce({n_words}, 0))",
        f"coalesce({symbol}, 0.0)",
        f"coalesce({repeated}, 0.0)",
        f"coalesce({rare}, 0.0)",
    ]


def _rule_label(q: Column, rules: RuleConfig) -> Column:
    """The quality-gate half of the heuristic verdict (the distillation
    target): 1 when no metric gate of operators/verdict fires
    (``metric_drop_reason``), with the verdict's own thresholds and
    null rule. Language/placeholder/perplexity gates are excluded — they
    are not functions of these features, and a distilled model should
    only be asked to learn what its inputs determine."""
    return metric_drop_reason(q, rules).isNull().cast("double")


def train_quality_classifier(
    df: DataFrame,
    text_col: str = "text",
    rules: RuleConfig = DEFAULT_RULES,
    max_iter: int = 100,
    reg_param: float = 0.01,
) -> DataFrame:
    """Distributed training: MLlib LogisticRegression over the quality
    features, labels = the rule gates. Returns a SINGLE-ROW DataFrame
    (w_intercept, w_log_len, ..., n_train, train_acc) — persist it with
    ``.write.parquet`` and score with quality_logit_expr."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    q = quality_struct(F.col(text_col))
    base = (
        df.where(F.col(text_col).isNotNull() & (F.length(text_col) > 0))
        .select(F.col(text_col), q.alias("_q"))
        .select(
            *[f.alias(n) for n, f in zip(FEATURE_NAMES, _features(F.col("_q")))],
            _rule_label(F.col("_q"), rules).alias("label"),
        )
    )
    assembled = VectorAssembler(
        inputCols=list(FEATURE_NAMES), outputCol="features"
    ).transform(base)
    lr = LogisticRegression(
        featuresCol="features",
        labelCol="label",
        maxIter=max_iter,
        regParam=reg_param,
        standardization=True,
    )
    model = lr.fit(assembled)
    # one post-fit pass: accuracy and row count in a single aggregation
    # (transform re-evaluates the feature exprs; don't scan twice more)
    acc_row = (
        model.transform(assembled)
        .agg(
            F.avg((F.col("prediction") == F.col("label")).cast("double")).alias("a"),
            F.count("*").alias("n"),
        )
        .first()
    )
    spark = df.sparkSession
    row = {
        "w_intercept": float(model.intercept),
        **{
            f"w_{n}": float(c)
            for n, c in zip(FEATURE_NAMES, model.coefficients)
        },
        "n_train": int(acc_row.n),
        "train_acc": float(acc_row.a),
    }
    return spark.createDataFrame([row])


def quality_logit_expr(q: Column, weights: dict[str, float]) -> Column:
    """round(w0 + sum(w_i * x_i), 6) as a pure Column expression; the
    weights dict comes from the persisted single-row table (collect of
    one row — the broadcast-dim pattern)."""
    logit: Column = F.lit(float(weights["w_intercept"]))
    for name, feat in zip(FEATURE_NAMES, _features(q)):
        logit = logit + F.lit(float(weights[f"w_{name}"])) * feat
    return F.round(logit, 6)


def logit_sql(weights_rel: str, features: list[str]) -> str:
    """The identical left-associated logit chain for the SQL oracle,
    reading weights from ``weights_rel`` (e.g. a read_parquet alias)."""
    expr = f"{weights_rel}.w_intercept"
    for name, feat in zip(FEATURE_NAMES, features):
        expr = f"({expr} + {weights_rel}.w_{name} * {feat})"
    return f"round({expr}, 6)"


def confusion_f1(
    df: DataFrame,
    label_col: str = "keep",
    pred_col: str = "model_keep",
) -> DataFrame:
    """Keep/drop classification quality vs reference labels: the
    engine's own rendering of the north-star acceptance metric
    (keep/drop F1 >= 0.99 against the reference's decisions — the
    reference's fixture-assert pattern, tests/test_main_app.py:171-186,
    turned into a distributed evaluation operator).

    Input: one row per document with a boolean reference ``label_col``
    and a boolean prediction ``pred_col``. Output: ONE row —
    tp/fp/fn/tn counts plus precision_r6 / recall_r6 / f1_r6 (rounded
    doubles, null when undefined).

    Scale shape: a single partial-aggregated global sum — four
    conditional counters combined map-side, one 4-long-row shuffle to
    a single reducer. The 100-TB evaluation costs one corpus scan.
    """
    lbl, prd = F.col(label_col), F.col(pred_col)
    agg = df.agg(
        F.sum((lbl & prd).cast("long")).alias("tp"),
        F.sum(((~lbl) & prd).cast("long")).alias("fp"),
        F.sum((lbl & (~prd)).cast("long")).alias("fn"),
        F.sum(((~lbl) & (~prd)).cast("long")).alias("tn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    prec = tp / F.nullif(tp + fp, F.lit(0))
    rec = tp / F.nullif(tp + fn, F.lit(0))
    return agg.select(
        "tp", "fp", "fn", "tn",
        F.round(prec, 6).alias("precision_r6"),
        F.round(rec, 6).alias("recall_r6"),
        F.round(2 * prec * rec / F.nullif(prec + rec, F.lit(0)), 6).alias("f1_r6"),
    )
