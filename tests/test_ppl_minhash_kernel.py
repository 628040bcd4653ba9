"""curate()'s fused perplexity+MinHash kernel: its values against the
separate reference kernels, the JVM-side round-6 perplexity gate on the
signature, and the number of Arrow crossings in curate()'s plan."""

from __future__ import annotations

import dataclasses
import math

import pytest
from pyspark.sql import functions as F

from gemproc2caom2_spark.functions.perplexity import batch_perplexity, perplexity_of
from gemproc2caom2_spark.operators.dedup import make_minhash_udf, shingle_hashes_expr
from gemproc2caom2_spark.operators.heuristics import DEFAULT_RULES
from gemproc2caom2_spark.plans.pipeline import ALL_STAGES, curate, make_perplexity_minhash_udf
from gemproc2caom2_spark.sources.datagen import INPUT_SCHEMA, generate_corpus
from tests.gen_fixtures import spark_round6

K = DEFAULT_RULES.shingle_k
PERMS = DEFAULT_RULES.num_minhash_perms

EDGE_TEXTS = [
    None,
    "",
    "a",
    "é",                       # one char, two UTF-8 bytes
    "İ",                       # one char that lowercases to two
    "ab",
    "two words",               # fewer than shingle_k words: no shingles
    "naïve café résumé déjà vu — ünïcödé text 日本語 with emoji 🙂 here",
    "the quick brown fox jumps over the lazy dog again and again",
    "the quick brown fox jumps over the lazy dog again and again",
    "zqxj wvkp zzzz qqqq xxxx " * 20,
]


def test_fused_kernel_matches_separate_kernels(spark):
    """Bit for bit: perplexity == the batch body (perplexity_of within
    1e-12 and equal after round-6), signature == make_minhash_udf, on
    null, empty, one-char, multi-byte and too-few-words rows."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(EDGE_TEXTS)], "id int, text string")
    hashes = shingle_hashes_expr("text", K)
    rows = (
        df.select(
            "id",
            make_perplexity_minhash_udf(PERMS)("text", hashes).alias("k"),
            make_minhash_udf(PERMS, K)(hashes).alias("sig"),
            F.round(make_perplexity_minhash_udf(PERMS)("text", hashes)["perplexity"], 6)
            .alias("ppl6"),
        )
        .orderBy("id")
        .collect()
    )
    batch = batch_perplexity(EDGE_TEXTS)
    for r, text, want in zip(rows, EDGE_TEXTS, batch):
        scalar = perplexity_of(text)
        if scalar is None:
            assert math.isnan(want) and r.k.perplexity is None and r.ppl6 is None, text
        else:
            assert r.k.perplexity == want, text
            assert r.k.perplexity == pytest.approx(scalar, rel=1e-12, abs=0), text
            assert r.ppl6 == spark_round6(scalar), text
        assert r.k.minhash_sig == r.sig, text
    # the edge rows exercise both the null and the present branches
    assert rows[0].k.minhash_sig is None and rows[6].k.minhash_sig is None
    assert rows[8].k.minhash_sig == rows[9].k.minhash_sig is not None
    assert rows[3].k.perplexity is None and rows[4].k.perplexity is not None


def test_null_hashes_give_perplexity_without_signature(spark):
    """Dedup off feeds null hashes: perplexity still computed, no
    signature math."""
    text = EDGE_TEXTS[-3]
    df = spark.createDataFrame([(text,)], "text string")
    r = df.select(
        make_perplexity_minhash_udf(PERMS)("text", F.lit(None).cast("array<bigint>")).alias("k")
    ).first()
    assert r.k.minhash_sig is None
    assert r.k.perplexity == batch_perplexity([text])[0]


@pytest.fixture(scope="module")
def kept_doc(spark):
    """One input row with stored text that curate() keeps (from the
    golden corpus), and its raw perplexity."""
    corpus = generate_corpus(spark, 60)
    no_dedup = tuple(s for s in ALL_STAGES if s != "dedup")
    kept = curate(corpus, num_partitions=4, stages=no_dedup).where("keep").select("url")
    row = corpus.where("text IS NOT NULL").join(kept, "url").orderBy("url").first()
    raw = batch_perplexity([row.text])[0]
    assert not math.isnan(raw)
    return row, raw


def _gate_run(spark, row, max_perplexity):
    """curate() over the doc and an exact copy under a second url, at
    the given threshold -> ({drop_reason: n}, signatures present)."""
    copy = row.asDict()
    copy["url"] = row.url + "-copy"
    df = spark.createDataFrame([row.asDict(), copy], INPUT_SCHEMA)
    rules = dataclasses.replace(DEFAULT_RULES, max_perplexity=max_perplexity)
    out = curate(df, rules=rules, num_partitions=2, emit_bands=True).collect()
    reasons: dict = {}
    for r in out:
        reasons[r.drop_reason] = reasons.get(r.drop_reason, 0) + 1
    return reasons, sum(r.lsh_bands is not None for r in out)


def test_round6_gate_on_signature(spark, kept_doc):
    """The signature is gated on round(perplexity, 6) <= max_perplexity,
    exactly: thresholds within 1e-6 of the doc's perplexity, on both
    sides of the rounded value, keep one copy and mark the other a
    duplicate, or drop both for perplexity with no signature."""
    row, raw = kept_doc
    r6 = spark_round6(float(raw))
    between = (raw + r6) / 2  # raw <= between < r6 or r6 < between <= raw
    cases = [(r6 - 1e-7, False), (r6, True), (r6 + 1e-7, True), (between, r6 <= between)]
    for threshold, passes in cases:
        assert abs(threshold - raw) < 1e-6
        reasons, with_sig = _gate_run(spark, row, threshold)
        if passes:
            assert reasons == {None: 1, "duplicate": 1}, threshold
            assert with_sig == 2, threshold
        else:
            assert reasons == {"perplexity": 2}, threshold
            assert with_sig == 0, threshold


def test_curate_plan_has_two_arrow_crossings(spark):
    """extract and the fused kernel: two ArrowEvalPython nodes in the
    plan that computes curate()'s dedup input (three before fusion)."""
    out = curate(generate_corpus(spark, 30), num_partitions=4)
    plan = out._curate_persisted._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("ArrowEvalPython") == 2, final
