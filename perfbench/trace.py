"""The traced run: per-layer numbers, timed from outside the engine.

Every span is recorded here, around a call into one layer's public
entry point (``session.build_session``, a parquet scan, ``curate`` with
a stage prefix, a registered query, ``run_incremental``,
``committed_keys``); nothing inside the engine is instrumented. Spans
are kept in memory and written to the run's record at the end.

The pipeline stages are timed as telescoping increments: ``base`` is
``curate(stages=())`` and each ``pipeline.stage.<s>_s`` is the time of
the ``ALL_STAGES`` prefix ending in ``s`` minus that of the prefix
before it, so base plus the increments is the full ``curate()`` time.
The prefixes (and, likewise, the suite's queries) run interleaved in
rounds: ``WARMUP_ROUNDS`` warm-up rounds, then timed rounds, and each
prefix's time is its median over the timed rounds, so JIT warming that
carries over from one prefix to the next is spread over all of them.
Counts are exact. They are derived with public functions only, from
the first commit's results, so no curate() run is repeated only to
count.

Each timed round of the workload's own unit also runs that unit once
untraced, and the traced sum — the stage increments for
``curate_crawl``, the per-query times for ``operator_suite`` — must
reconcile with the median untraced time within ``RECONCILE_TOL``; the
relative difference is reported as ``trace.overhead_frac``. Spans only
read a clock outside the engine, so this difference is run-to-run noise
rather than a cost of tracing.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from perfbench.digest import (
    DROP_REASONS, aggregate, consume, curate_exprs, golden_self_check, query_exprs,
)
from perfbench.run import (
    ROOT, SUITE, curate_iteration, invariants, iteration, load_pin, query_pass,
)

RECONCILE_TOL = 0.25
WARMUP_ROUNDS = 1
# timed rounds for the layer the workload itself times, and for the other
TIMED_ROUNDS, OTHER_TIMED_ROUNDS = 2, 1
# emb2_semantic_near_dup_text's bucketing: hashed-TF dim, plane bits, tables
EMB_DIM, EMB_BITS, EMB_TABLES = 64, 6, 8
STAGES = ("collapse", "extract", "langid", "heuristics", "perplexity", "scrub", "dedup")
CHECKPOINT_TABLES = ("results", "keys", "audit_metrics", "audit_rollup", "preview")

PER_LAYER_UNITS = {
    "session.build_s": "s",
    "sources.scan_s": "s",
    "pipeline.base_s": "s",
    **{f"pipeline.stage.{s}_s": "s" for s in STAGES},
    "pipeline.docs_in": "count",
    "pipeline.docs_collapsed": "count",
    "pipeline.kept": "count",
    **{f"gate.drops.{r}": "count" for r in DROP_REASONS},
    **{f"{layer}.{m}": u for layer in (
        "operators.extract", "functions.perplexity", "functions.scrub")
       for m, u in (("rows_in", "count"), ("useful_ratio", "ratio"))},
    "operators.dedup.sig_rows": "count",
    "operators.dedup.useful_ratio": "ratio",
    "operators.dedup.band_rows": "count",
    "operators.dedup.max_bucket": "count",
    "operators.similarity.bucket_rows": "count",
    "operators.similarity.max_bucket": "count",
    **{f"query.{q}_s": "s" for q in SUITE},
    **{group: "s" for group in SUITE.values()},
    "checkpoint.batch_a_s": "s",
    "checkpoint.batch_b_s": "s",
    "checkpoint.committed_keys_s": "s",
    "checkpoint.sink_s": "s",
    **{f"checkpoint.bytes.{t}": "B" for t in CHECKPOINT_TABLES},
    "checkpoint.files_written": "count",
    "checkpoint.skipped_docs": "count",
    "checkpoint.xrun_dups": "count",
    "checkpoint.write_amp": "B/B",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "trace.untraced_wall_s": "s",
    "trace.traced_wall_s": "s",
    "trace.overhead_frac": "ratio",
}


class Tracer:
    """In-memory spans plus the Spark task counts of the traced jobs."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._t0 = time.perf_counter()
        self._seen_stages: set[int] = set()
        self.tasks = 0
        self.tasks_failed = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append({
                "name": name, "parent": parent,
                "start": start - self._t0, "end": end - self._t0,
            })

    def last(self, name: str) -> float:
        s = next(s for s in reversed(self.spans) if s["name"] == name)
        return s["end"] - s["start"]

    def count_tasks(self, spark) -> None:
        """Add the tasks of stages finished since the last call (polled
        often, so the status store never drops one before it is read)."""
        tracker = spark.sparkContext.statusTracker()
        # every job of this application (none is given a job group)
        for job in tracker.getJobIdsForGroup():
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                if stage in self._seen_stages:
                    continue
                st = tracker.getStageInfo(stage)
                if st is None or st.numActiveTasks:
                    continue
                self._seen_stages.add(stage)
                self.tasks += st.numCompletedTasks
                self.tasks_failed += st.numFailedTasks


def traced_run(bench, workload: str, record: dict) -> dict:
    tr = Tracer()
    checks: list[tuple[str, bool]] = []
    errors = record["errors"]

    def check(what: str, got, want) -> None:
        checks.append((what, got == want))
        if got != want:
            errors.append(f"{what}: {got} != {want}")

    with tr.span("session"):
        spark = bench.start()
    m = {"session.build_s": tr.last("session")}

    scans = []
    for _ in range(3):
        with tr.span("sources.scan"):
            spark.read.parquet(*bench.crawl).write.format("noop").mode("overwrite").save()
        scans.append(tr.last("sources.scan"))
    m["sources.scan_s"] = statistics.median(scans)
    tr.count_tasks(spark)

    reference = load_pin(workload, bench.seed)

    def plain() -> float:
        """The workload's own unit, untraced; its digest is the reference
        when the seed has no pin."""
        nonlocal reference
        digest, parts = iteration(bench, workload)
        spark.catalog.clearCache()
        reference = reference or digest
        check(f"{workload} untraced", digest, reference)
        return sum(parts.values())

    if workload == "curate_crawl":
        full_curate, curate_digest, walls = _pipeline(bench, tr, m, TIMED_ROUNDS, plain)
        traced = full_curate
        check("traced curate digest", curate_digest, reference)
        _, query_digests, _ = _queries(bench, tr, m, OTHER_TIMED_ROUNDS)
        other, other_digest = "operator_suite", query_digests
    else:
        traced, query_digests, walls = _queries(bench, tr, m, TIMED_ROUNDS, plain)
        check("traced query digests", query_digests, reference)
        full_curate, curate_digest, _ = _pipeline(bench, tr, m, OTHER_TIMED_ROUNDS)
        other, other_digest = "curate_crawl", curate_digest
    check("invariants", invariants(workload, reference), [])
    other_pin = load_pin(other, bench.seed)
    if other_pin is not None:
        check(f"{other} digest", other_digest, other_pin)
    untraced = statistics.median(walls)
    results_a = _checkpoint(bench, tr, full_curate, check, m, record)
    _counts(bench, tr, results_a, curate_digest, check, m)
    _similarity_buckets(bench, tr, m)
    tr.count_tasks(spark)
    if workload == "curate_crawl":
        # proves the curate digest reads the right columns; once per
        # workload is enough, and the operator_suite run is the longer one
        check("golden self-check", golden_self_check(spark, ROOT), [])

    m["trace.untraced_wall_s"] = untraced
    m["trace.traced_wall_s"] = traced
    m["trace.overhead_frac"] = traced / untraced - 1
    if abs(traced / untraced - 1) > RECONCILE_TOL:
        errors.append(
            f"traced sum {traced:.3f} s does not reconcile with untraced wall {untraced:.3f} s"
        )
    m["spark.tasks"] = tr.tasks
    m["spark.tasks_failed"] = tr.tasks_failed

    record["digest"] = reference
    record["spans"] = tr.spans
    record["checks"] = checks
    record["units"] = PER_LAYER_UNITS
    record["attempted"] = len(checks)
    record["failed"] = sum(not ok for _, ok in checks)
    if set(m) != set(PER_LAYER_UNITS):
        raise RuntimeError(
            f"per-layer metrics differ from the declared set: {set(m) ^ set(PER_LAYER_UNITS)}"
        )
    return m


def _rounds(tr: Tracer, spark, units: dict, timed_rounds: int, plain=None):
    """Run each of ``units`` (span name -> call returning its digest and
    seconds) once per round, in order: ``WARMUP_ROUNDS`` warm-up rounds,
    then ``timed_rounds`` timed ones, each of which also runs ``plain``
    (the untraced reference) when it is given. Returns each unit's
    median over the timed rounds, its last digest, and the untraced
    times."""
    samples: dict[str, list[float]] = {name: [] for name in units}
    digests, walls = {}, []
    for r in range(WARMUP_ROUNDS + timed_rounds):
        for name, call in units.items():
            with tr.span(name):
                digests[name], secs = call()
            spark.catalog.clearCache()
            tr.count_tasks(spark)
            if r >= WARMUP_ROUNDS:
                samples[name].append(secs)
        if r >= WARMUP_ROUNDS and plain is not None:
            walls.append(plain())
    return {n: statistics.median(v) for n, v in samples.items()}, digests, walls


def _pipeline(
    bench, tr: Tracer, m: dict, timed_rounds: int, plain=None
) -> tuple[float, dict, list[float]]:
    """Stage increments; returns the full curate() time, its digest and
    the untraced times."""
    spark = bench.spark

    def prefix(k: int):
        digest, parts = curate_iteration(spark, bench.crawl, STAGES[:k])
        return digest, parts["curate"]

    names = ["base", *STAGES]
    units = {f"pipeline.{name}": (lambda k=k: prefix(k)) for k, name in enumerate(names)}
    times, digests, walls = _rounds(tr, spark, units, timed_rounds, plain)
    m["pipeline.base_s"] = times["pipeline.base"]
    for prev, s in zip(names, STAGES):
        m[f"pipeline.stage.{s}_s"] = times[f"pipeline.{s}"] - times[f"pipeline.{prev}"]
    return times[f"pipeline.{STAGES[-1]}"], digests[f"pipeline.{STAGES[-1]}"], walls


def _queries(
    bench, tr: Tracer, m: dict, timed_rounds: int, plain=None
) -> tuple[float, dict, list[float]]:
    """Per-query times and their group sums; returns the sum of the
    per-query times, the queries' digests and the untraced times."""
    spark = bench.spark

    def one(name: str):
        digest, parts = query_pass(spark, bench.tables, [name])
        return digest[name], parts[name]

    units = {f"query.{name}": (lambda name=name: one(name)) for name in SUITE}
    times, digests, walls = _rounds(tr, spark, units, timed_rounds, plain)
    total = 0.0
    for name, group in SUITE.items():
        secs = times[f"query.{name}"]
        m[f"query.{name}_s"] = secs
        m[group] = m.get(group, 0.0) + secs
        total += secs
    return total, {q: digests[f"query.{q}"] for q in SUITE}, walls


def _tree_bytes(path: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.startswith("part-")
    return size, files


def _checkpoint(bench, tr: Tracer, full_curate: float, check, m: dict, record: dict) -> str:
    """Two incremental commits into a fresh ledger, each timed once (no
    warm-up of their own: the curate() plan they write is warm). Batch A
    is the whole crawl. Batch B is as many docs again: the last half of
    the crawl, which the ledger anti-join skips, and as many new docs,
    with cross-run dedup on. Returns the directory of A's committed
    results."""
    from gemproc2caom2_spark.plans.checkpoint import (
        committed_keys, committed_results, run_incremental,
    )

    spark = bench.spark
    half = len(bench.crawl) // 2
    a_files, b_files = bench.crawl, bench.crawl[half:] + bench.crawl_extra
    ledger = os.path.join(bench.run_dir, "ledger")
    shutil.rmtree(ledger, ignore_errors=True)

    with tr.span("checkpoint.batch_a"):
        _, n_a = run_incremental(spark, spark.read.parquet(*a_files), ledger, run_id="a")
    with tr.span("checkpoint.batch_b"):
        _, n_b = run_incremental(spark, spark.read.parquet(*b_files), ledger, run_id="b")
    with tr.span("checkpoint.committed_keys"):
        consume(committed_keys(spark, ledger), query_exprs)
    tr.count_tasks(spark)
    m["checkpoint.batch_a_s"] = tr.last("checkpoint.batch_a")
    m["checkpoint.batch_b_s"] = tr.last("checkpoint.batch_b")
    m["checkpoint.committed_keys_s"] = tr.last("checkpoint.committed_keys")
    # batch A commits exactly the traced full curate() run's plan and input
    m["checkpoint.sink_s"] = m["checkpoint.batch_a_s"] - full_curate

    rows_a = spark.read.parquet(*a_files).count()
    rows_b = spark.read.parquet(*b_files).count()
    overlap = spark.read.parquet(*bench.crawl[half:]).count()
    check("batch A processed", n_a, rows_a)
    check("batch B processed", n_b, rows_b - overlap)
    results = aggregate(committed_results(spark, ledger), curate_exprs)
    check("committed rows", results["rows"], n_a + n_b)
    digest = {"a": n_a, "b": n_b, "results": results}
    pinned = load_pin("incremental_commit", bench.seed)
    if pinned is not None:
        check("incremental_commit digest", digest, pinned)
    record.setdefault("pins", {})["incremental_commit"] = digest

    runs = os.path.join(ledger, "runs")
    total_files = 0
    for t in CHECKPOINT_TABLES:
        size = files_n = 0
        for run in ("a", "b"):
            s, f = _tree_bytes(os.path.join(runs, run, t))
            size, files_n = size + s, files_n + f
        m[f"checkpoint.bytes.{t}"] = size
        total_files += files_n
    m["checkpoint.files_written"] = total_files
    m["checkpoint.skipped_docs"] = rows_b - n_b
    input_bytes = sum(os.path.getsize(f) for f in a_files + b_files)
    m["checkpoint.write_amp"] = _tree_bytes(ledger)[0] / input_bytes

    bands_a = (
        spark.read.parquet(os.path.join(runs, "a", "keys"))
        .select(F.explode("lsh_bands").alias("bucket")).distinct()
    )
    m["checkpoint.xrun_dups"] = (
        spark.read.parquet(os.path.join(runs, "b", "results"))
        .where(F.col("drop_reason") == "duplicate").select("url_hash")
        .join(spark.read.parquet(os.path.join(runs, "b", "keys")), "url_hash")
        .select("url_hash", F.explode("lsh_bands").alias("bucket"))
        .join(bands_a, "bucket", "left_semi")
        .select("url_hash").distinct().count()
    )
    return os.path.join(runs, "a", "results")


def _counts(bench, tr: Tracer, results_a: str, curate_digest: dict, check, m: dict) -> None:
    """Exact curate() counts, read from batch A's committed results: A
    has no ledger to skip or dedup against, so its results are the
    curate() output of the whole crawl (checked by digest)."""
    from gemproc2caom2_spark.functions.hashing import url_normalize
    from gemproc2caom2_spark.operators.dedup import (
        band_keys_expr, make_minhash_udf, shingle_hashes_expr,
    )
    from gemproc2caom2_spark.operators.extract import extract_text_udf
    from gemproc2caom2_spark.operators.heuristics import DEFAULT_RULES as R

    spark = bench.spark
    with tr.span("pipeline.counts"):
        cur = spark.read.parquet(results_a)
        dg = aggregate(cur, curate_exprs)
        check("committed batch A digest vs curate()", dg, curate_digest)
        src = spark.read.parquet(*bench.crawl)
        m["pipeline.docs_in"] = src.count()
        m["pipeline.docs_collapsed"] = dg["rows"]
        m["pipeline.kept"] = kept = dg["kept"]
        for r in DROP_REASONS:
            m[f"gate.drops.{r}"] = dg[r]

        src_n = src.select(url_normalize("url").alias("url"), "text", "html")
        html_only = (
            src_n.where(F.col("text").isNull() & F.col("html").isNotNull())
            .join(cur.select("url", "keep"), "url")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("keep").cast("long")).alias("kept"))
            .first()
        )
        # perplexity and scrub see the docs no cheap gate dropped; the
        # minhash signature only those that also pass perplexity
        past_cheap = kept + dg["perplexity"] + dg["duplicate"]
        sig_rows = kept + dg["duplicate"]
        m["operators.extract.rows_in"] = html_only["n"]
        m["operators.extract.useful_ratio"] = (html_only["kept"] or 0) / max(1, html_only["n"])
        for layer in ("functions.perplexity", "functions.scrub"):
            m[f"{layer}.rows_in"] = past_cheap
            m[f"{layer}.useful_ratio"] = kept / max(1, past_cheap)
        m["operators.dedup.sig_rows"] = sig_rows
        m["operators.dedup.useful_ratio"] = kept / max(1, sig_rows)

        eligible = (
            cur.where(F.col("drop_reason").isNull() | (F.col("drop_reason") == "duplicate"))
            .select("url")
            .join(src_n, "url")
            .select(F.coalesce(
                F.col("text"), extract_text_udf(F.when(F.col("text").isNull(), F.col("html")))
            ).alias("text"))
        )
        sigs = eligible.select(
            make_minhash_udf(R.num_minhash_perms, R.shingle_k)(
                shingle_hashes_expr("text", R.shingle_k)
            ).alias("sig")
        )
        buckets = (
            sigs.select(F.explode(
                band_keys_expr("sig", R.lsh_bands, R.num_minhash_perms // R.lsh_bands)
            ).alias("bucket"))
            .groupBy("bucket").count()
            .agg(F.sum("count").alias("rows"), F.max("count").alias("max"))
            .first()
        )
        m["operators.dedup.band_rows"] = buckets["rows"] or 0
        m["operators.dedup.max_bucket"] = buckets["max"] or 0
    tr.count_tasks(spark)


def _similarity_buckets(bench, tr: Tracer, m: dict) -> None:
    """Occupancy of emb2_semantic_near_dup_text's hyperplane buckets
    (centered hashed-TF vectors of ``documents``), computed with the
    public embed/similarity functions: the grouped pair kernel scores a
    whole bucket in one task, so ``max_bucket`` is that task's size."""
    from gemproc2caom2_spark.operators.embed import with_centered_vector, with_text_embedding
    from gemproc2caom2_spark.operators.similarity import np_bucket_udf

    spark = bench.spark
    with tr.span("operators.similarity.buckets"):
        docs = spark.read.parquet(os.path.join(bench.tables, "documents.parquet"))
        emb = with_text_embedding(docs.where(F.trim("text") != ""), dim=EMB_DIM)
        cvec = with_centered_vector(emb.select("embedding"), dim=EMB_DIM)
        buckets = (
            cvec.select(F.explode(
                np_bucket_udf(EMB_BITS, EMB_TABLES, EMB_DIM)("cvec")
            ).alias("bucket"))
            .groupBy("bucket").count()
            .agg(F.sum("count").alias("rows"), F.max("count").alias("max"))
            .first()
        )
    m["operators.similarity.bucket_rows"] = buckets["rows"] or 0
    m["operators.similarity.max_bucket"] = buckets["max"] or 0
