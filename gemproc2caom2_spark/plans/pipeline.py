"""The curation DAG — one declarative pass, single scan, no driver loop.

The reference's lifecycle (run_by_todo: per file, meta visitors then
data visitors in strict order,
/root/reference/gemProc2caom2/composable.py:94-120) becomes ONE
DataFrame transformation chain ending in one distributed action. Stage
ordering is preserved as the reference preserves visitor ordering —
"order is important here" (composable.py:96).

Execution-cost shape (the part that must survive 100 TB):

- exactly one scan of the input; `html` is only materialized inside the
  extract stage and is dropped immediately after;
- cheap Column-expr gates are evaluated BEFORE the Arrow stages, and
  expensive kernels receive NULL input for already-dropped rows
  (`F.when(cheap_reason.isNull(), text)`), so a doc killed by a length
  rule costs zero perplexity/minhash work — the early-filtering analog
  of main_app.py:190-196 done by construction, since Catalyst will not
  reorder across opaque UDFs;
- two Arrow crossings in all (two Python workers per task at most):
  extract, and ONE fused perplexity+MinHash kernel
  (``make_perplexity_minhash_udf``) after the repartition — each
  crossing is a Python worker per task, and a worker task's fixed cost
  (hundreds of ms) is the largest one in a small curate() run;
- one explicit salted repartition before the Arrow stages (UDF compute
  skew is NOT covered by AQE skew-join handling);
- the fat text column dies as early as possible: `html` right after
  extract, `text_extracted` right after the minhash signature — the
  persist barrier and the dedup fold-back only ever carry scrubbed
  text for keepable docs;
- the shuffles in the whole plan are: the recapture collapse (groupBy
  url_hash, map-side combining), the salted repartition, the LSH band
  groupBy + fold-back join, and the thin canonical-url join on the
  flags frame — independent of corpus text size, all keyed on 64-bit
  hashes.
"""

from __future__ import annotations

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gemproc2caom2_spark.functions.hashing import (
    salted_partition_key,
    url_host,
    url_normalize,
)
from gemproc2caom2_spark.functions.langid import langid_expr
from gemproc2caom2_spark.functions.perplexity import batch_perplexity
from gemproc2caom2_spark.functions.scrub import scrub_expr
from gemproc2caom2_spark.operators.dedup import (
    minhash_row,
    mark_lsh_duplicates,
    shingle_hashes_expr,
)
from gemproc2caom2_spark.operators.extract import extract_text_udf
from gemproc2caom2_spark.operators.heuristics import (
    DEFAULT_RULES,
    RuleConfig,
    null_quality_struct,
    quality_struct,
)
from gemproc2caom2_spark.operators.verdict import cheap_drop_reason

# verdict output columns (the flat CAOM2-Observation analog, SURVEY §1.1;
# `lineage` is the PROVENANCE-BINTABLE analog: array<struct<url,rel>> —
# rel='duplicate_of' points a dropped duplicate at its canonical doc,
# rel='prior_capture' records each crawl capture the recapture collapse
# discarded (provenance_augmentation.py:184-199's inputs rows))
OUTPUT_COLUMNS = [
    "url", "url_hash", "host", "warc_ts", "lang_claimed", "lang_pred",
    "quality", "perplexity", "scrubbed_text", "keep", "drop_reason",
    "lineage",
]

# stage-set selection — the task_types analog
# (/root/reference/config/config.yml:74-87; run_single.py:94 runs with
# meta_visitors=[]): every stage is independently toggleable. A disabled
# stage leaves its output columns null/pass-through, and the null-safe
# verdict gates simply don't fire — same contract as the reference's
# missing-keyword guards.
ALL_STAGES = ("collapse", "extract", "langid", "heuristics", "perplexity",
              "scrub", "dedup")


PPL_SIG_TYPE = "struct<perplexity double, minhash_sig array<bigint>>"


def make_perplexity_minhash_udf(num_perms: int):
    """curate()'s fused expensive kernel: ONE Arrow crossing per batch
    computes both the perplexity of each gated doc and the MinHash
    signature of its shingle hashes (``shingle_hashes_expr`` of the same
    text, hashed JVM-side) -> PPL_SIG_TYPE. Null text -> null
    perplexity; null or empty hashes -> null signature.

    The bodies are the production ones (``batch_perplexity``,
    ``minhash_row``), so the values are those of the separate
    kernels bit for bit. The perplexity gate on the signature stays in
    the JVM (see curate()), which is why every doc past the cheap
    gates gets a signature here, kept or not."""

    @F.pandas_udf(PPL_SIG_TYPE)
    def _ppl_sig(texts: pd.Series, hashes: pd.Series) -> pd.DataFrame:
        return pd.DataFrame({
            "perplexity": batch_perplexity(texts),
            "minhash_sig": pd.Series(
                [minhash_row(h, num_perms) for h in hashes], dtype="object"
            ),
        })

    return _ppl_sig


def _prior_capture_entries() -> Column:
    """Lineage entries for captures discarded by the recapture collapse:
    {url: '<url>@<iso-ts>', rel: 'prior_capture'} per prior capture —
    the provenance.inputs analog for the web crawl's capture history."""
    return F.filter(
        F.transform(
            F.coalesce(
                F.col("_priors"),
                F.array().cast("array<struct<warc_ts:timestamp,_tie:bigint>>"),
            ),
            lambda p: F.struct(
                F.concat(
                    F.col("url"),
                    F.lit("@"),
                    F.date_format(p["warc_ts"], "yyyy-MM-dd'T'HH:mm:ss"),
                ).alias("url"),
                F.lit("prior_capture").alias("rel"),
            ),
        ),
        lambda x: x["url"].isNotNull(),
    )


def curate(
    df: DataFrame,
    rules: RuleConfig = DEFAULT_RULES,
    num_partitions: int | None = None,
    stages: tuple[str, ...] = ALL_STAGES,
    emit_bands: bool = False,
) -> DataFrame:
    """Full curation DAG over an input-schema DataFrame
    (url, warc_ts, html, text, lang) -> OUTPUT_COLUMNS.

    ``stages`` selects the stage subset (task_types analog; leave out
    ``"dedup"`` to skip the LSH stage and its persist barrier).
    ``emit_bands`` appends an ``lsh_bands array<long>`` column (the LSH
    band bucket keys) so the checkpoint ledger can dedup ACROSS runs —
    a new batch anti-joins its buckets against committed ones
    (plans/checkpoint.py)."""
    run = set(stages)
    dedup = "dedup" in run
    persisted: DataFrame | None = None
    from gemproc2caom2_spark.operators.heuristics import ANALYSIS_CAP

    # ---- key/partition stage (builder.py:90-155 analog) ----
    # Fat-payload pruning AT THE SCAN — the columns are dead weight the
    # moment they can no longer change any output, and every byte kept
    # here crosses the collapse shuffle and the salted repartition:
    #  - `html` is consumed only when `text` is null (extract coalesces
    #    the stored text first), so rows that carry text never ship
    #    their raw page bytes;
    #  - a doc over max_doc_len is a max_length drop whose only
    #    downstream uses of text are the EXACT doc_len (carried thin in
    #    `_text_len`) and the ANALYSIS_CAP-prefix metrics — truncate to
    #    the cap so a 10 MB page crosses the shuffles as 16 KB. Docs at
    #    or under the limit are untouched (scrub byte-identity holds).
    #  - the recapture tie-break hash is taken BEFORE truncation, so
    #    collapse winners are identical with or without the pruning.
    d = df.select(
        url_normalize("url").alias("url"),
        F.col("warc_ts"),
        F.when(F.col("text").isNull(), F.col("html")).alias("html"),
        F.length("text").cast("long").alias("_text_len"),
        F.xxhash64(F.coalesce(F.col("text"), F.lit(""))).alias("_tie"),
        F.when(
            F.length("text") > rules.max_doc_len,
            F.substring("text", 1, ANALYSIS_CAP),
        )
        .otherwise(F.col("text"))
        .alias("text"),
        F.col("lang").alias("lang_claimed"),
    ).withColumn("url_hash", F.xxhash64("url")).withColumn("host", url_host("url"))

    # ---- recapture collapse: one row per normalized url ----
    # A crawl recaptures the same url; keep the LATEST capture (ties
    # broken by text hash for determinism). Done BEFORE extract so a
    # recaptured page never pays the Arrow/regex stages twice, and so
    # every downstream key (url_hash) is unique — the keyed dedup ops
    # rely on that. groupBy + max_by (partial agg combines map-side;
    # a window over url would sort entire hot groups on one task).
    if "collapse" in run:
        payload = F.struct(
            "url", "warc_ts", "html", "text", "lang_claimed", "host", "_text_len"
        )
        order = F.struct(F.col("warc_ts"), F.col("_tie"))
        # _priors: the discarded captures' order keys (sorted; the last
        # element is the winner, so slice it off) — the PROVENANCE-row
        # analog: a collapsed recapture is this doc's provenance, and it
        # surfaces in the lineage column as rel='prior_capture'
        # (provenance_augmentation.py:184-199). Thin structs only —
        # bounded by captures-per-url, never the payload.
        d = (
            d.groupBy("url_hash")
            .agg(
                F.max_by(payload, order).alias("_r"),
                F.sort_array(F.collect_list(order)).alias("_caps"),
            )
            .select(
                "url_hash",
                "_r.*",
                F.slice(
                    F.col("_caps"), 1, F.greatest(F.size("_caps") - 1, F.lit(0))
                ).alias("_priors"),
            )
        )
    else:
        d = d.drop("_tie").withColumn(
            "_priors",
            F.array().cast("array<struct<warc_ts:timestamp,_tie:bigint>>"),
        )

    # ---- extract stage (header-parse analog; drops `html` right after) ----
    # the UDF input is null-gated on the stored text, so rows that
    # already carry text never ship their html bytes through Arrow
    if "extract" in run:
        d = d.withColumn(
            "text_extracted",
            F.coalesce(
                F.col("text"),
                extract_text_udf(F.when(F.col("text").isNull(), F.col("html"))),
            ),
        ).drop("html", "text")
    else:
        d = d.withColumn("text_extracted", F.col("text")).drop("html", "text")
    # exact doc length: the pre-truncation stored-text length when the
    # row arrived with text, else the length of the freshly-extracted
    # text (which is never truncated)
    d = d.withColumn(
        "_doc_len",
        F.coalesce(F.col("_text_len"), F.length("text_extracted").cast("long")),
    ).drop("_text_len")

    # ---- langid + heuristics (pure Column exprs, codegen'd) ----
    # langid reads the LANGID_CAP prefix: language is decidable from a
    # few KB, and the stopword regexes must not rescan a 10 MB outlier
    from gemproc2caom2_spark.operators.heuristics import LANGID_CAP

    # disabled langid trusts the claimed metadata (skipping the
    # re-derivation stage, the meta_visitors=[] analog); disabled
    # heuristics yields a null-metric struct so no quality gate fires
    d = d.withColumn(
        "lang_pred",
        langid_expr(F.substring(F.col("text_extracted"), 1, LANGID_CAP))
        if "langid" in run
        else F.col("lang_claimed"),
    ).withColumn(
        "quality",
        quality_struct("text_extracted", exact_len=F.col("_doc_len"))
        if "heuristics" in run
        else null_quality_struct(),
    ).drop("_doc_len")

    # ---- salted repartition: shuffle AND materialization barrier ----
    # Row-local regex stages above run balanced on the input's byte-sized
    # file splits; the shuffle (a) salts hot hosts before the keyed dedup
    # ops and (b) materializes text_extracted/lang_pred/quality exactly
    # once — every reference below is an attribute read, so the optimizer
    # cannot re-inline (and thus re-evaluate) the regex and UDF trees
    # into their many consumers. The cheap-reason chain is built AFTER
    # the barrier for the same reason: built before it, its quality/lang
    # references inline the full regex trees a second time (~2x CPU).
    # The barrier is therefore NOT optional (measured: skipping it
    # triples wall time): num_partitions=None auto-sizes to 2x the
    # session parallelism; pass 0 to explicitly skip the shuffle.
    if num_partitions is None:
        num_partitions = 2 * int(df.sparkSession.sparkContext.defaultParallelism)
    if num_partitions > 0:
        # salt granularity must comfortably exceed the partition count:
        # a hot host quantized into only n_salts keys makes the hash
        # distribution lumpy (measured at 16 salts / 8 partitions: 2.5x
        # byte spread across partitions -> straggler-bound stages). 16x
        # partitions keeps hot-host docs near-uniform while still
        # bounding each host to a fixed key set.
        eff_salts = max(rules.n_salts, 16 * num_partitions)
        d = d.repartition(num_partitions, salted_partition_key("url", eff_salts))

    d = d.withColumn(
        "_cheap_reason",
        cheap_drop_reason(
            F.col("text_extracted"), F.col("quality"), F.col("lang_pred"), rules
        ),
    )

    # ---- expensive kernels, null-gated on the cheap verdict ----
    # perplexity and the MinHash signature cross Arrow ONCE, in one
    # fused kernel over the cheap-gated text (one Python worker per
    # task instead of two). The JVM keeps the 6-dp rounding and the
    # exact `perplexity <= max_perplexity` gate on the signature, so a
    # perplexity drop still never carries a signature into the LSH
    # fold. Dedup off -> null hashes, so no signature math; perplexity
    # off -> no kernel and no signatures (a doc is only dedup-eligible
    # once its perplexity passed).
    gated_text = F.when(F.col("_cheap_reason").isNull(), F.col("text_extracted"))
    if "perplexity" in run:
        hashes = (
            shingle_hashes_expr(gated_text, rules.shingle_k)
            if dedup
            else F.lit(None).cast("array<bigint>")
        )
        kernel = make_perplexity_minhash_udf(rules.num_minhash_perms)
        d = d.withColumn("_ppl_sig", kernel(gated_text, hashes)).withColumn(
            "perplexity", F.round(F.col("_ppl_sig.perplexity"), 6)
        )
        signature = F.when(
            F.col("perplexity") <= rules.max_perplexity, F.col("_ppl_sig.minhash_sig")
        )
    else:
        d = d.withColumn("perplexity", F.lit(None).cast("double"))
        signature = F.lit(None).cast("array<bigint>")

    # ---- scrub (byte-identical, JVM regexp chain) ----
    # only docs that survive the cheap gates get scrubbed output: the
    # curated table carries text for keepable docs, and a dropped 10 MB
    # page must not pay 5 regex passes (V4 analog: enrichment only for
    # SCIENCE parts, main_app.py:221-224)
    d = d.withColumn(
        "scrubbed_text",
        F.when(
            F.col("_cheap_reason").isNull(),
            scrub_expr("text_extracted")
            if "scrub" in run
            else F.col("text_extracted"),
        ),
    )

    # text_extracted ends its life here: the verdict below reads
    # _cheap_reason (already folded from text), so the fat column —
    # carried for EVERY doc, including 200KB+ max_length drops whose
    # scrubbed_text is already null — never enters the persist or
    # the dedup fold-back shuffle
    d = d.withColumn("minhash_sig", signature).drop("text_extracted", "_ppl_sig")
    if dedup:
        # MATERIALIZATION BARRIER. mark_lsh_duplicates forks the plan
        # (the frame joins an aggregate derived from itself); without a
        # barrier Spark recomputes the whole upstream DAG — extract,
        # perplexity, signatures — once PER JOIN BRANCH. The persist
        # must be EAGER (count() before the multi-branch query): AQE
        # launches the fork's independent map stages concurrently, and
        # three stages racing to populate an un-materialized cache each
        # recompute the full Arrow chain — measured 3x wall at 48k docs.
        # One count pass makes every branch a cache read. (At full
        # cluster scale the equivalent is staging this frame to a
        # table/checkpoint before the dedup join — same protocol as
        # plans/checkpoint.py.)
        d = d.persist(StorageLevel.MEMORY_AND_DISK)
        d.count()
        persisted = d
        # ---- LSH dedup + lineage enrichment (J5 analog): explode
        # bands -> fold back happens inside mark_lsh_duplicates; the
        # canonical doc's url (member-metadata propagation,
        # provenance_augmentation.py:240-258) is resolved on the SMALL
        # flags frame, so exactly ONE join touches the fat frame ----
        d = mark_lsh_duplicates(
            d,
            key_col="url_hash",
            sig_col="minhash_sig",
            bands=rules.lsh_bands,
            rows_per_band=rules.num_minhash_perms // rules.lsh_bands,
            canonical_attrs=d.select(
                "url_hash", F.col("url").alias("_canon_url")
            ),
        )
        d = d.withColumn(
            "lineage",
            F.concat(
                _prior_capture_entries(),
                F.filter(
                    F.array(
                        F.struct(
                            F.col("_canon_url").alias("url"),
                            F.lit("duplicate_of").alias("rel"),
                        )
                    ),
                    lambda x: x["url"].isNotNull(),
                ),
            ),
        ).drop("_canon_url", "_priors")
    else:
        d = d.withColumn("is_duplicate", F.lit(False)).withColumn(
            "lineage", _prior_capture_entries()
        ).drop("_priors")

    # ---- verdict ----
    # _cheap_reason is operators.verdict's text-gate fold, i.e.
    # drop_reason_expr minus 'rejected' (fixed false in this DAG) and
    # the two expensive gates, so the full chain reduces to a coalesce
    # with those two — the verdict never rescans text
    reason = F.coalesce(
        F.col("_cheap_reason"),
        F.when(F.col("perplexity") > rules.max_perplexity, F.lit("perplexity")),
        F.when(F.coalesce(F.col("is_duplicate"), F.lit(False)), F.lit("duplicate")),
    )
    d = d.withColumn("drop_reason", reason).withColumn(
        "keep", F.col("drop_reason").isNull()
    )
    out_cols = list(OUTPUT_COLUMNS)
    if emit_bands:
        from gemproc2caom2_spark.operators.dedup import band_keys_expr

        bands_col = (
            F.when(
                F.col("minhash_sig").isNotNull(),
                band_keys_expr(
                    "minhash_sig",
                    rules.lsh_bands,
                    rules.num_minhash_perms // rules.lsh_bands,
                ),
            )
            if dedup
            else F.lit(None).cast("array<bigint>")
        )
        d = d.withColumn("lsh_bands", bands_col)
        out_cols.append("lsh_bands")
    out = d.select(*out_cols)
    # cache-lifecycle handle: the internal dedup barrier persist outlives
    # curate() (callers keep reading the plan), so the CALLER that knows
    # when the consuming action is done must release it — long-lived
    # sessions running many epochs would otherwise accumulate cached
    # pre-dedup frames until eviction pressure (plans/checkpoint.py and
    # streaming/incremental.py call unpersist_curate_cache after commit).
    out._curate_persisted = persisted  # type: ignore[attr-defined]
    return out


def unpersist_curate_cache(df: DataFrame) -> None:
    """Release the dedup-barrier cache attached to a curate() result.
    No-op for frames without one (stages without ``"dedup"``)."""
    p = getattr(df, "_curate_persisted", None)
    if p is not None:
        p.unpersist()
