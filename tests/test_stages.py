"""Stage-set selection (task_types analog), recapture collapse, lineage
output, and the V9 rejected path — the run-shape contracts that aren't
covered by the golden suite."""

from __future__ import annotations

from pyspark.sql import functions as F

from gemproc2caom2_spark.operators.verdict import with_verdict
from gemproc2caom2_spark.plans.pipeline import ALL_STAGES, curate
from gemproc2caom2_spark.sources.datagen import generate_corpus


def test_stage_subsets(spark):
    df = generate_corpus(spark, 30)

    # perplexity off: column null everywhere, no 'perplexity' verdicts
    out = curate(df, stages=tuple(s for s in ALL_STAGES if s != "perplexity"))
    assert out.where(F.col("perplexity").isNotNull()).count() == 0
    assert out.where(F.col("drop_reason") == "perplexity").count() == 0

    # langid off: prediction = claimed metadata (re-derivation skipped)
    out = curate(df, stages=tuple(s for s in ALL_STAGES if s != "langid"))
    assert (
        out.where(
            ~(
                (F.col("lang_pred") == F.col("lang_claimed"))
                | (F.col("lang_pred").isNull() & F.col("lang_claimed").isNull())
            )
        ).count()
        == 0
    )

    # heuristics off: no quality gate fires; doc_len is null in the struct
    out = curate(df, stages=tuple(s for s in ALL_STAGES if s != "heuristics"))
    quality_reasons = {"min_length", "max_length", "min_words",
                       "symbol_ratio", "rare_chars", "repeated_lines"}
    fired = {r.drop_reason for r in out.select("drop_reason").distinct().collect()}
    assert not (fired & quality_reasons), fired
    assert out.where(F.col("quality.doc_len").isNotNull()).count() == 0

    # verdict-only minimal run still yields the full output schema
    out = curate(df, stages=("heuristics",))
    assert set(out.columns) >= {"url", "keep", "drop_reason", "lineage"}


def test_recapture_collapse(spark):
    """Same normalized url captured twice -> ONE output row, the later
    capture wins (crawl-recapture semantics)."""
    df = generate_corpus(spark, 15)
    recap = df.limit(3).select(
        "url",
        (F.col("warc_ts") + F.expr("interval 7 days")).alias("warc_ts"),
        "html",
        F.concat_ws(" ", F.col("text"), F.lit("RECAPTURED")).alias("text"),
        "lang",
    )
    no_dedup = tuple(s for s in ALL_STAGES if s != "dedup")
    out = curate(df.unionByName(recap), stages=no_dedup).collect()
    assert len(out) == 15
    by_url = {r.url: r for r in out}
    recaptured = [r for r in out if r.scrubbed_text and "RECAPTURED" in r.scrubbed_text]
    # the 3 recaptured urls that keep text must show the later capture
    originals = {r.url for r in recap.collect()}
    for url in originals:
        r = by_url[url]
        if r.scrubbed_text is not None:
            assert "RECAPTURED" in r.scrubbed_text, url
    assert recaptured, "no recaptured row surfaced the later text"

    # provenance: every collapsed url carries ONE prior_capture lineage
    # entry pointing at the discarded capture ('<url>@<iso-ts>'), and
    # un-recaptured urls carry none
    for url in originals:
        entries = [e for e in by_url[url].lineage if e.rel == "prior_capture"]
        assert len(entries) == 1, (url, by_url[url].lineage)
        assert entries[0].url.startswith(url + "@2025-"), entries[0].url
    for r in out:
        if r.url not in originals:
            assert all(e.rel != "prior_capture" for e in r.lineage), r.url

    # collapse disabled: both captures flow through
    out2 = curate(
        df.unionByName(recap),
        stages=tuple(s for s in ALL_STAGES if s != "collapse"),
    )
    assert len(out2.collect()) == 18


def test_lineage_points_at_canonical(spark):
    df = generate_corpus(spark, 60)
    out = curate(df, num_partitions=8)
    rows = out.collect()
    dups = [r for r in rows if r.drop_reason == "duplicate"]
    keeps_by_url = {r.url: r for r in rows}
    assert dups
    for r in dups:
        assert len(r.lineage) == 1 and r.lineage[0].rel == "duplicate_of"
        canon = keeps_by_url[r.lineage[0].url]
        # the canonical doc itself is not flagged duplicate
        assert canon.drop_reason != "duplicate"
    # non-duplicates carry empty lineage
    assert all(len(r.lineage) == 0 for r in rows if r.drop_reason != "duplicate")


def test_v9_rejected_path(spark):
    """V9: the validity stub slot — a row marked rejected is dropped
    with reason 'rejected' ahead of every quality gate."""
    from gemproc2caom2_spark.operators.heuristics import quality_struct

    df = (
        generate_corpus(spark, 15)
        .withColumn("text_extracted", F.col("text"))
        .withColumn("quality", quality_struct("text"))
        .withColumn("lang_pred", F.lit("en"))
        .withColumn("perplexity", F.lit(10.0))
        .withColumn("is_duplicate", F.lit(False))
        .withColumn("is_rejected", F.col("url").endswith("000001"))
    )
    out = with_verdict(df, rejected_col="is_rejected")
    rejected = out.where(F.col("is_rejected")).collect()
    assert rejected and all(r.drop_reason == "rejected" for r in rejected)
    assert out.where(~F.col("is_rejected") & (F.col("drop_reason") == "rejected")).count() == 0
