"""Order-independent output digests and the golden self-check.

A digest is computed inside the timed action itself: the frame is
wrapped in ``DataFrame.observe`` and consumed by the ``noop`` sink, so
the plan that is timed is the plan that is checked and no column the
sink would skip is pruned. The hash is the exact sum (as a decimal) of
one xxhash64 per row, so it does not depend on row order or
partitioning. Floating-point values are rounded to 6 decimals before
hashing, the same tolerance the oracle-parity tests use, so that a
different shuffle-fetch order of a floating-point sum cannot flip it.
"""

from __future__ import annotations

import base64
import json
import os

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

# every drop_reason curate() can emit (cheap gates in precedence order,
# then the two expensive gates)
DROP_REASONS = (
    "empty", "min_length", "max_length", "min_words", "placeholder", "langid",
    "symbol_ratio", "rare_chars", "repeated_lines", "perplexity", "duplicate",
)
# the curate() output columns the curate digest covers
CURATE_DIGEST_COLUMNS = (
    "url_hash", "keep", "drop_reason", "perplexity", "scrubbed_text", "lineage",
)


def _canon(col: Column, dtype: T.DataType) -> Column:
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.round(col.cast("double"), 6)
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: _canon(x, dtype.elementType))
    if isinstance(dtype, T.StructType):
        return F.struct(*[_canon(col[f.name], f.dataType).alias(f.name) for f in dtype.fields])
    return col


def row_hash(df: DataFrame, columns: tuple[str, ...] | None = None) -> Column:
    fields = [f for f in df.schema.fields if columns is None or f.name in columns]
    # xxhash64 over a struct also hashes a null field, unlike the varargs form
    return F.xxhash64(F.struct(*[_canon(F.col(f.name), f.dataType) for f in fields]))


def _hash_sum(h: Column) -> Column:
    return F.coalesce(F.sum(h.cast("decimal(20,0)")), F.lit(0).cast("decimal(38,0)"))


def curate_exprs(df: DataFrame) -> list[Column]:
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("keep").cast("long")).alias("kept"),
        *[F.sum(F.when(F.col("drop_reason") == r, 1).otherwise(0)).alias(r) for r in DROP_REASONS],
        _hash_sum(row_hash(df, CURATE_DIGEST_COLUMNS)).alias("hash"),
    ]


def query_exprs(df: DataFrame) -> list[Column]:
    return [F.count(F.lit(1)).alias("rows"), _hash_sum(row_hash(df)).alias("hash")]


def _normalise(row: dict) -> dict:
    return {k: (str(v) if k == "hash" else int(v or 0)) for k, v in row.items()}


def consume(df: DataFrame, exprs) -> dict:
    """Run ``df`` into the noop sink and return its observed digest."""
    obs = Observation()
    df.observe(obs, *exprs(df)).write.format("noop").mode("overwrite").save()
    return _normalise(obs.get)


def aggregate(df: DataFrame, exprs) -> dict:
    """The same digest as ``consume``, computed by a plain aggregate."""
    return _normalise(df.agg(*exprs(df)).first().asDict())


def golden_self_check(spark, root: str) -> list[str]:
    """Run curate() on the 60-doc golden corpus and compare the columns
    the curate digest reads against tests/data/expected_verdicts.json.
    Returns the mismatches (empty when the digest reads the right
    columns and they hold the golden values)."""
    from gemproc2caom2_spark.plans.pipeline import curate, unpersist_curate_cache
    from gemproc2caom2_spark.sources.datagen import generate_corpus

    with open(os.path.join(root, "tests", "data", "expected_verdicts.json")) as f:
        golden = {g["url"]: g for g in json.load(f)}
    out = curate(generate_corpus(spark, len(golden)))
    cols = ("url",) + CURATE_DIGEST_COLUMNS
    rows = {r["url"]: r for r in out.select(*cols).collect()}
    unpersist_curate_cache(out)
    errors = []
    if set(rows) != set(golden):
        errors.append(f"urls differ: {len(rows)} rows vs {len(golden)} golden")
    for url, g in golden.items():
        r = rows.get(url)
        if r is None:
            continue
        want = g["drop_reason_pre_dedup"]
        if not (r["drop_reason"] == want or (r["drop_reason"] == "duplicate" and want is None)):
            errors.append(f"{url}: drop_reason {r['drop_reason']} vs {want}")
        if r["keep"] != (r["drop_reason"] is None):
            errors.append(f"{url}: keep {r['keep']} with drop_reason {r['drop_reason']}")
        ppl, gppl = r["perplexity"], g["perplexity"]
        if (ppl is None) != (gppl is None) or (ppl is not None and abs(ppl - gppl) > 2e-6):
            errors.append(f"{url}: perplexity {ppl} vs {gppl}")
        text = r["scrubbed_text"]
        b64 = base64.b64encode(text.encode("utf-8")).decode("ascii") if text is not None else None
        if b64 != g["scrubbed_text_b64"]:
            errors.append(f"{url}: scrubbed_text differs")
        dup_of = [e["url"] for e in r["lineage"] if e["rel"] == "duplicate_of"]
        if bool(dup_of) != (r["drop_reason"] == "duplicate"):
            errors.append(f"{url}: lineage {dup_of} with drop_reason {r['drop_reason']}")
    return errors
