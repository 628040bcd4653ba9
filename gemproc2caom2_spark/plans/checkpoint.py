"""Checkpoint / resume protocol — the ledger-files analog.

The reference persists todo/success/failure/retry/rejected/state files
between invocations (/root/reference/config/config.yml:15,30-45,58-67)
and its incremental mode re-runs only unprocessed work. Here:

- a *run* writes results + a compact keys ledger + audit under
  ``runs/<run_id>/`` and then atomically drops a ``_COMMITTED`` marker
  (a run killed mid-write leaves no marker and is invisible to readers
  — the poor-man's snapshot). On a real cluster this module is replaced
  by Iceberg's snapshot commit (``writeTo(...).append()`` for results,
  keys and audit in one transaction); the protocol and call sites are
  identical.
- *resume* = left ANTI join of the input against the committed KEYS
  ledger on the 64-bit ``url_hash`` (todo minus done) — never against
  the full results (the ledger is ~16 bytes/doc + band keys, not the
  curated text), and never on url strings. Failed rows are simply never
  committed, so the next run picks them up — retry semantics with no
  retry file.
- *rejected* (known-bad, never retry) = committed audit rows with
  drop_reason='rejected'; they stay excluded through the same keys
  anti-join.
- *cross-run dedup*: within-batch near-dup detection is batch-local
  (the LSH self-fold inside ``curate``); ACROSS runs, each run's keys
  ledger carries the LSH band bucket keys of its docs, and a new batch
  is additionally checked against the union of committed buckets — a
  doc sharing any band bucket with a committed doc is dropped as
  'duplicate'. Output quality is therefore run-order independent for
  duplicates (the committed doc always wins), at the cost of one
  semi-join per run against the compact bucket set.

All paths go through the Hadoop FileSystem API, so ``out_dir`` may be
file:///, hdfs:// or s3a:// — no driver-side os.listdir.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemproc2caom2_spark.operators.audit import drop_reason_rollup, partition_metrics
from gemproc2caom2_spark.plans.pipeline import ALL_STAGES, curate, unpersist_curate_cache
from gemproc2caom2_spark.operators.heuristics import DEFAULT_RULES, RuleConfig

_MARKER = "_COMMITTED"
_SUPERSEDES = "_SUPERSEDES"


# ---------------------------------------------------------------------------
# filesystem helpers (scheme-agnostic via the Hadoop FS API)
# ---------------------------------------------------------------------------


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, hpath


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def _fs_listdir(spark: SparkSession, path: str) -> list[str]:
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(hpath))


def _fs_touch(spark: SparkSession, path: str) -> None:
    """Atomic-enough commit marker: create-if-absent (HDFS/local rename
    semantics; on object stores the marker PUT is the atomic unit)."""
    fs, hpath = _hadoop_fs(spark, path)
    out = fs.create(hpath, False)
    out.close()


def _fs_write_text(spark: SparkSession, path: str, content: str) -> None:
    fs, hpath = _hadoop_fs(spark, path)
    out = fs.create(hpath, True)
    out.write(bytearray(content.encode("utf-8")))
    out.close()


def _fs_read_lines(spark: SparkSession, path: str) -> list[str]:
    """Read a small marker file via the Hadoop FS API. NOT spark.read.text:
    underscore-prefixed files (_SUPERSEDES) are Hadoop hidden files that
    a DataFrame scan silently skips, returning zero rows."""
    fs, hpath = _hadoop_fs(spark, path)
    jvm = spark.sparkContext._jvm
    stream = fs.open(hpath)
    # JDK-only read loop (BufferedReader over the FSDataInputStream):
    # no third-party JVM classes — commons-io isn't guaranteed on every
    # deployment's classpath, and markers are a few lines so the
    # one-py4j-call-per-line cost is nil
    reader = jvm.java.io.BufferedReader(
        jvm.java.io.InputStreamReader(stream, "UTF-8")
    )
    lines: list[str] = []
    try:
        ln = reader.readLine()
        while ln is not None:
            if ln:
                lines.append(ln)
            ln = reader.readLine()
    finally:
        reader.close()
    return lines


def _fs_delete(spark: SparkSession, path: str) -> None:
    fs, hpath = _hadoop_fs(spark, path)
    if fs.exists(hpath):
        fs.delete(hpath, True)


def _join(*parts: str) -> str:
    return "/".join(p.rstrip("/") for p in parts)


# ---------------------------------------------------------------------------
# ledger reads
# ---------------------------------------------------------------------------


def _runs_root(out_dir: str) -> str:
    return _join(out_dir, "runs")


def committed_run_ids(spark: SparkSession, out_dir: str) -> list[str]:
    """Committed, non-superseded run ids. A committed compaction run
    carries a ``_SUPERSEDES`` file naming the runs it replaced; those
    stay invisible even before their directories are garbage-collected,
    so the supersede set — written BEFORE the compaction's commit marker
    — is the atomic switch (the Iceberg snapshot-metadata analog)."""
    root = _runs_root(out_dir)
    committed = [
        r
        for r in _fs_listdir(spark, root)
        if _fs_exists(spark, _join(root, r, _MARKER))
    ]
    superseded: set[str] = set()
    for r in committed:
        sup = _join(root, r, _SUPERSEDES)
        if _fs_exists(spark, sup):
            superseded.update(_fs_read_lines(spark, sup))
    return [r for r in committed if r not in superseded]


def committed_results(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Union of all committed runs' results (the curated table view)."""
    runs = committed_run_ids(spark, out_dir)
    if not runs:
        return None
    paths = [_join(_runs_root(out_dir), r, "results") for r in runs]
    return spark.read.parquet(*paths)


def committed_keys(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """Compact ledger of committed work: (url_hash, lsh_bands)."""
    runs = committed_run_ids(spark, out_dir)
    if not runs:
        return None
    paths = [_join(_runs_root(out_dir), r, "keys") for r in runs]
    return spark.read.parquet(*paths)


# ---------------------------------------------------------------------------
# ledger / snapshot compaction (K5 maintenance)
# ---------------------------------------------------------------------------

_RUN_TABLES = ("results", "keys", "audit_metrics", "audit_rollup", "preview")


def compact_runs(
    spark: SparkSession,
    out_dir: str,
    run_id: str | None = None,
    delete_retired: bool = True,
) -> tuple[str, int]:
    """Merge every committed run into ONE compacted snapshot and retire
    the originals — the ledger-maintenance analog of the reference's
    todo/success/retry file rollover (tests/test_composable.py:126-135)
    and of Iceberg's rewrite/snapshot-expiration maintenance.

    Protocol (crash-safe at every boundary):
    1. write the unioned results/keys/audit/preview tables into a fresh
       run dir (keys de-duplicated — the anti-join read gets smaller);
    2. write ``_SUPERSEDES`` listing the merged run ids;
    3. drop the ``_COMMITTED`` marker — the atomic switch: from here
       readers see ONE run and the old ones are invisible (step 2's
       file), whether or not their dirs still exist;
    4. optionally delete the retired dirs (pure GC; a crash here only
       leaves dead bytes, never wrong reads).

    Cross-run dedup, resume and committed_results all keep working
    unchanged on the compacted snapshot, and the run-dir count returns
    to 1. Returns (new_run_id, n_runs_merged); no-op when fewer than two
    committed runs exist."""
    runs = committed_run_ids(spark, out_dir)
    if len(runs) < 2:
        return (runs[0] if runs else "", 0)
    run_id = run_id or ("compact-" + uuid.uuid4().hex[:12])
    root = _runs_root(out_dir)
    new_dir = _join(root, run_id)
    for sub in _RUN_TABLES:
        paths = [
            _join(root, r, sub)
            for r in runs
            if _fs_exists(spark, _join(root, r, sub))
        ]
        if not paths:
            continue
        df = spark.read.parquet(*paths)
        if sub == "keys":
            df = df.distinct()
        df.write.mode("overwrite").parquet(_join(new_dir, sub))
    # transitive closure: a merged run may itself be a compaction whose
    # _SUPERSEDES is the ONLY record hiding earlier (possibly undeleted)
    # run dirs — if we deleted it while writing only the direct ids, those
    # runs would resurface and double-count. Union every merged run's own
    # supersede set into the new file.
    supersedes: set[str] = set(runs)
    for r in runs:
        sup = _join(root, r, _SUPERSEDES)
        if _fs_exists(spark, sup):
            supersedes.update(_fs_read_lines(spark, sup))
    _fs_write_text(
        spark, _join(new_dir, _SUPERSEDES), "\n".join(sorted(supersedes)) + "\n"
    )
    _fs_touch(spark, _join(new_dir, _MARKER))
    if delete_retired:
        for r in runs:
            _fs_delete(spark, _join(root, r))
    return run_id, len(runs)


# ---------------------------------------------------------------------------
# incremental run
# ---------------------------------------------------------------------------


def run_incremental(
    spark: SparkSession,
    input_df: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    rules: RuleConfig = DEFAULT_RULES,
    num_partitions: int | None = None,
    cross_run_dedup: bool = True,
    dedup: bool = True,
    partition_by: tuple[str, ...] = (),
    max_records_per_file: int | None = None,
) -> tuple[str, int]:
    """Process only not-yet-committed urls; commit results + keys + audit
    atomically. Returns (run_id, n_processed).

    ``dedup=False`` disables the within-run LSH stage (and with it the
    cross-run bucket check, which keys off the bands it emits) — the
    task_types/meta_visitors=[] analog for deployments that run dedup
    as a separate periodic job.

    ``partition_by`` hive-partitions the RESULTS table (e.g.
    ``("lang",)`` so language-scoped consumers get partition pruning
    for free — the layout every curated-corpus reader filters on) and
    ``max_records_per_file`` caps file size so a skewed partition
    (lang=en is most of web text) still splits into parallel-readable
    files. Layout-only knobs: committed_results reads back the
    identical rows either way, and the keys/audit side tables stay
    unpartitioned (they are read whole)."""
    run_id = run_id or uuid.uuid4().hex[:12]
    done = committed_keys(spark, out_dir)
    todo = input_df
    if done is not None:
        # anti join on the 64-bit url_hash of the NORMALIZED url — the
        # exact key curate() derives — against the compact keys ledger.
        from gemproc2caom2_spark.functions.hashing import url_normalize

        todo = (
            input_df.withColumn("_uh", F.xxhash64(url_normalize("url")))
            .join(
                done.select(F.col("url_hash").alias("_uh")).distinct(),
                on="_uh",
                how="left_anti",
            )
            .drop("_uh")
        )

    base = curate(
        todo,
        rules=rules,
        num_partitions=num_partitions,
        emit_bands=True,
        stages=ALL_STAGES if dedup else tuple(s for s in ALL_STAGES if s != "dedup"),
    )
    curated = base

    if cross_run_dedup and done is not None:
        # a doc sharing any LSH band bucket with a committed doc is a
        # cross-run near-duplicate: the committed doc is canonical
        # (band index is baked into each bucket hash, so a flat
        # semi-join on the bucket value is band-correct)
        prev_buckets = (
            done.where(F.col("lsh_bands").isNotNull())
            .select(F.explode("lsh_bands").alias("_bk"))
            .distinct()
        )
        xdup = (
            curated.where(F.col("lsh_bands").isNotNull())
            .select("url_hash", F.explode("lsh_bands").alias("_bk"))
            .join(prev_buckets, on="_bk", how="left_semi")
            .select("url_hash")
            .distinct()
            .withColumn("_xdup", F.lit(True))
        )
        curated = (
            curated.join(xdup, on="url_hash", how="left")
            .withColumn(
                "drop_reason",
                F.when(
                    F.coalesce(F.col("_xdup"), F.lit(False)) & F.col("keep"),
                    F.lit("duplicate"),
                ).otherwise(F.col("drop_reason")),
            )
            .withColumn("keep", F.col("drop_reason").isNull())
            .drop("_xdup")
        )

    run_dir = _join(_runs_root(out_dir), run_id)
    results_path = _join(run_dir, "results")
    keys_path = _join(run_dir, "keys")
    results_writer = curated.drop("lsh_bands").write.mode("overwrite")
    if partition_by:
        results_writer = results_writer.partitionBy(*partition_by)
    if max_records_per_file:
        results_writer = results_writer.option(
            "maxRecordsPerFile", int(max_records_per_file)
        )
    results_writer.parquet(results_path)

    # derive keys + audit from the just-written results (no DAG recompute)
    written = spark.read.parquet(results_path)
    # band keys must come from the curated frame (results drop them);
    # re-running just the bands projection reads the shuffle/cache, and
    # the keys frame is 2 columns of longs — cheap either way
    curated.select("url_hash", "lsh_bands").write.mode("overwrite").parquet(keys_path)

    # two SEPARATE audit frames (a lossy union would discard wall_ms /
    # n_kept): per-partition metrics + per-reason rollup
    partition_metrics(written, run_id, stage="curate").write.mode(
        "overwrite"
    ).parquet(_join(run_dir, "audit_metrics"))
    drop_reason_rollup(written, run_id).write.mode("overwrite").parquet(
        _join(run_dir, "audit_rollup")
    )

    # preview/thumbnail side-output per kept doc (K3: the derived
    # jpg-artifact pair, preview_augmentation.py:88-133) — committed in
    # the same snapshot as results
    from gemproc2caom2_spark.operators.preview import preview_rows

    preview_rows(written).write.mode("overwrite").parquet(
        _join(run_dir, "preview")
    )

    n = written.count()
    # atomic commit marker: the create is the snapshot boundary
    _fs_touch(spark, _join(run_dir, _MARKER))
    # the snapshot is durable: release the dedup-barrier cache so
    # repeated incremental runs in one session don't accumulate cached
    # pre-dedup frames (scoped unpersist, not clearCache — the caller's
    # own caches are none of our business). Unpersist via the ORIGINAL
    # curate() return: cross-run dedup rewrites `curated` into a new
    # DataFrame that no longer carries the persisted-frame handle.
    unpersist_curate_cache(base)
    return run_id, n


# ---------------------------------------------------------------------------
# K1 on a real Iceberg catalog (feature-gated: needs the Iceberg runtime
# jars + a configured catalog, neither present in this sandbox)
# ---------------------------------------------------------------------------


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath.
    The gate for ``run_incremental_iceberg`` — checked explicitly so a
    deployment without the jars gets a clear capability error instead
    of a ClassNotFoundException from deep inside a writeTo plan."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def run_incremental_iceberg(
    spark: SparkSession,
    input_df: DataFrame,
    table_prefix: str,
    run_id: str | None = None,
    rules: RuleConfig = DEFAULT_RULES,
    num_partitions: int | None = None,
) -> tuple[str, int]:
    """``run_incremental`` with the parquet+marker ledger replaced by
    Iceberg tables (``<prefix>_results`` / ``<prefix>_keys`` /
    ``<prefix>_audit``): resume anti-joins the keys TABLE, commits are
    ``writeTo(...).append()`` snapshot commits, and compaction/
    expiration become the catalog's own maintenance procedures. Each
    append is atomic per table (Iceberg snapshot isolation); the
    ``run_id`` column in every row is the cross-table fence — a run
    that died between appends is detected by run_ids present in
    results but absent from keys, and re-appending the same run_id is
    idempotent to readers that (like resume) key off the keys table.

    Raises RuntimeError when the Iceberg runtime is absent (this
    sandbox: no jars) — the documented fallback is ``run_incremental``,
    whose ``_COMMITTED`` marker protocol mirrors the snapshot commit.
    Reference ingest analog: /root/reference/config/config.yml:78-81.
    """
    if not iceberg_available(spark):
        raise RuntimeError(
            "Iceberg runtime not on the classpath; use run_incremental "
            "(parquet + _COMMITTED marker ledger) instead"
        )
    run_id = run_id or uuid.uuid4().hex[:12]
    results_t, keys_t = f"{table_prefix}_results", f"{table_prefix}_keys"

    def _table_exists(name: str) -> bool:
        try:
            spark.table(name)
            return True
        except Exception:
            return False

    todo = input_df
    if _table_exists(keys_t):
        from gemproc2caom2_spark.functions.hashing import url_normalize

        done = spark.table(keys_t)
        todo = (
            input_df.withColumn("_uh", F.xxhash64(url_normalize("url")))
            .join(
                done.select(F.col("url_hash").alias("_uh")).distinct(),
                on="_uh",
                how="left_anti",
            )
            .drop("_uh")
        )

    base = curate(todo, rules=rules, num_partitions=num_partitions, emit_bands=True)
    rid = F.lit(run_id).alias("run_id")
    results = base.drop("lsh_bands").select("*", rid)
    keys = base.select("url_hash", "lsh_bands").select("*", rid)

    def _append(df: DataFrame, name: str) -> None:
        if _table_exists(name):
            df.writeTo(name).append()
        else:
            df.writeTo(name).create()

    _append(results, results_t)
    n = spark.table(results_t).where(F.col("run_id") == run_id).count()
    _append(keys, keys_t)
    _append(
        partition_metrics(
            spark.table(results_t).where(F.col("run_id") == run_id),
            run_id,
            stage="curate",
        ),
        f"{table_prefix}_audit",
    )
    unpersist_curate_cache(base)
    return run_id, n
