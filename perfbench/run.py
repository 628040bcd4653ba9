"""Benchmark of the curation engine: one workload per run.

    python3 perfbench/run.py --workload curate_crawl --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` and
cached under ``.perfbench_work/cache``; each run's Spark local dirs and
output dirs live under ``.perfbench_work/run-<pid>`` and are removed
when the run ends. A record with every sample, the host, build and
session settings goes to ``.perfbench_work/results``. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics of ``trace.py`` with ``--trace 1``). The exit code is non-zero
when any output check fails.

Workloads (session ``local[4]``, driver memory 2g):

- ``curate_crawl``: ``plans.pipeline.curate()`` over a seeded crawl
  corpus, consumed by the noop sink;
- ``operator_suite``: one pass over a fixed list of registered queries
  over seeded operator tables.

Protocol: ``setup_s`` is the time from nothing to ready: the session
build (JVM launch included) plus ``WARMUPS`` full-size iterations of
every timed plan shape. Then iterations are timed for ``--seconds``
(at least ``MIN_ITERS``), each followed by a cache clear, and every
timed metric is a median over them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PINS = os.path.join(HERE, "digests.json")

MASTER = "local[4]"
DRIVER_MEMORY = "2g"
WARMUPS = 3
CODEGEN_CACHE = 1000
MIN_ITERS = 2

CRAWL = {"n_docs": 2000, "n_files": 8}
TABLES = {"n_docs": 500, "n_orders": 15000}
# query -> the layer group it is summed into in the traced run
SUITE = {
    "emb2_semantic_near_dup_text": "operators.similarity_s",
    "dd4_ngram_jaccard_pairs": "operators.dedup_s",
    "dd7_simhash_near_dup": "operators.dedup_s",
    "bpe1_merge_train": "operators.bpe_s",
    "q3_top_revenue": "plans.queries_s",
}

END_TO_END_UNITS = {
    "setup_s": "s", "wall_s": "s", "docs_per_s": "docs/s", "cpu_s": "s",
    "peak_rss_mb": "MB",
}


class Bench:
    """Paths, inputs and the SparkSession of one run."""

    def __init__(self, seed: int):
        from perfbench import inputs

        self.seed = seed
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        cache = os.path.join(WORK, "cache")
        os.makedirs(cache, exist_ok=True)
        # half as many files again, same docs per file: the crawl is the
        # first n_files; the rest are the new docs of the traced run's
        # second commit batch
        files = inputs.crawl_corpus(
            cache, seed, CRAWL["n_docs"] * 3 // 2, CRAWL["n_files"] * 3 // 2
        )
        self.crawl, self.crawl_extra = files[: CRAWL["n_files"]], files[CRAWL["n_files"]:]
        self.tables = inputs.operator_tables(cache, seed, **TABLES)
        self.spark = None

    def settings(self) -> dict:
        return {
            "master": MASTER, "driver_memory": DRIVER_MEMORY,
            "local_dirs": os.environ["SPARK_LOCAL_DIRS"], "warmups": WARMUPS,
            "min_iters": MIN_ITERS, "codegen_cache": CODEGEN_CACHE,
            "crawl": CRAWL, "tables": TABLES,
            "suite": list(SUITE),
        }

    def start(self):
        from gemproc2caom2_spark.session import build_session

        self.spark = build_session(
            app_name="perfbench", master=MASTER, driver_memory=DRIVER_MEMORY,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # -XX:-UsePerfData: no hsperfdata file in the system /tmp
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
                # curate() generates more distinct classes than the default
                # 100-entry codegen cache holds. Whether it then thrashes
                # differs from one JVM to the next: in some runs every
                # iteration recompiled about 30 classes, and the JIT
                # recompiled their methods, at up to 1.7x the CPU of a run
                # without misses. A cache that holds them all takes that
                # coin toss out of the measurement.
                "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE),
            },
        )
        return self.spark

    def shutdown(self) -> None:
        """Stop the session, then the JVM and its Python workers, and
        wait until every process this run started has exited."""
        from pyspark import SparkContext

        from perfbench.probe import tree_pids

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while tree_pids() and time.time() < deadline:
            time.sleep(0.2)
        for pid in tree_pids():
            try:
                os.kill(pid, 9)
            except OSError:
                pass


# ---------------------------------------------------------------------------
# workloads: one iteration returns (digest, {part: seconds})
# ---------------------------------------------------------------------------


def curate_iteration(spark, corpus: list[str], stages=None) -> tuple[dict, dict]:
    from gemproc2caom2_spark.plans.pipeline import ALL_STAGES, curate, unpersist_curate_cache

    from perfbench.digest import consume, curate_exprs

    t0 = time.perf_counter()
    out = curate(spark.read.parquet(*corpus), stages=ALL_STAGES if stages is None else stages)
    digest = consume(out, curate_exprs)
    wall = time.perf_counter() - t0
    unpersist_curate_cache(out)
    return digest, {"curate": wall}


def query_pass(spark, tables: str, names=SUITE) -> tuple[dict, dict]:
    import __spark_entry__

    from perfbench.digest import consume, query_exprs

    queries = __spark_entry__.queries()
    digests, parts = {}, {}
    for name in names:
        t0 = time.perf_counter()
        digests[name] = consume(queries[name](spark, tables), query_exprs)
        parts[name] = time.perf_counter() - t0
    return digests, parts


def iteration(bench: Bench, workload: str) -> tuple[dict, dict]:
    if workload == "curate_crawl":
        return curate_iteration(bench.spark, bench.crawl)
    return query_pass(bench.spark, bench.tables)


def invariants(workload: str, digest: dict) -> list[str]:
    """Checks that hold for every seed, pinned or not."""
    from perfbench.digest import DROP_REASONS

    if workload != "curate_crawl":
        return [f"{q}: no rows" for q, d in digest.items() if d["rows"] == 0]
    errors = []
    if digest["rows"] != CRAWL["n_docs"]:
        errors.append(f"{digest['rows']} curated rows for {CRAWL['n_docs']} distinct urls")
    if digest["kept"] + sum(digest[r] for r in DROP_REASONS) != digest["rows"]:
        errors.append("kept plus drops does not add up to the curated rows")
    return errors


def docs_per_iteration(workload: str) -> int:
    return CRAWL["n_docs"] if workload == "curate_crawl" else TABLES["n_docs"]


# ---------------------------------------------------------------------------
# pinned digests
# ---------------------------------------------------------------------------


def pin_key(workload: str) -> str:
    if workload in ("curate_crawl", "incremental_commit"):
        cfg = "crawl-n{n_docs}-f{n_files}".format(**CRAWL)
    else:
        cfg = "tables-d{n_docs}-o{n_orders}".format(**TABLES)
    return f"{workload}/{cfg}"


def load_pin(workload: str, seed: int) -> dict | None:
    if not os.path.exists(PINS):
        return None
    with open(PINS) as f:
        return json.load(f).get(pin_key(workload), {}).get(str(seed))


def save_pin(workload: str, seed: int, digest: dict) -> None:
    pins = {}
    if os.path.exists(PINS):
        with open(PINS) as f:
            pins = json.load(f)
    pins.setdefault(pin_key(workload), {})[str(seed)] = digest
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


# ---------------------------------------------------------------------------
# the untraced run
# ---------------------------------------------------------------------------


def measure(bench: Bench, workload: str, seconds: float, record: dict) -> dict:
    from perfbench.probe import jvm_stats, tree_cpu_s, tree_cpu_split

    pinned = load_pin(workload, bench.seed)
    record["pinned"] = pinned is not None
    errors = record["errors"]
    reference = pinned

    # set-up: session build plus a fixed number of full-size iterations
    # of every timed plan shape (the first one is cold)
    t0 = time.perf_counter()
    bench.start()
    record["session_s"], record["warmups"] = time.perf_counter() - t0, []
    for k in range(WARMUPS):
        digest, parts = iteration(bench, workload)
        bench.spark.catalog.clearCache()
        record["warmups"].append(parts)
        if reference is None:
            reference = digest
        if digest != reference:
            errors.append(f"warm-up {k}: digest {digest} != {reference}")
    setup = time.perf_counter() - t0
    record["digest"] = reference
    errors.extend(invariants(workload, reference))

    samples = []
    attempted = failed = 0
    t_start = time.perf_counter()
    while attempted < MIN_ITERS or time.perf_counter() - t_start < seconds:
        attempted += 1
        c0, split0, jvm0 = tree_cpu_s(), tree_cpu_split(), jvm_stats(bench.spark)
        try:
            digest, parts = iteration(bench, workload)
        except Exception:
            errors.append(f"iteration {attempted}: {traceback.format_exc(limit=3)}")
            failed += 1
            continue
        cpu = tree_cpu_s() - c0
        split1, jvm1 = tree_cpu_split(), jvm_stats(bench.spark)
        bench.spark.catalog.clearCache()
        if digest != reference:
            errors.append(f"iteration {attempted}: digest {digest} != {reference}")
            failed += 1
            continue
        samples.append({
            "parts": parts, "wall": sum(parts.values()), "cpu": cpu,
            # where the CPU went, for telling a slow host from a slow build
            "cpu_split": {k: split1[k] - split0[k] for k in split0},
            "jvm": {k: jvm1[k] - jvm0[k] for k in jvm0},
        })
    record["samples"] = samples
    record["attempted"], record["failed"] = attempted, failed

    if not samples:
        return {}
    # a pass is the sum of its parts; each part's median is taken over
    # the timed iterations, which damps a slow outlier in one part
    wall = sum(
        statistics.median(s["parts"][p] for s in samples) for p in samples[0]["parts"]
    )
    return {
        "setup_s": setup,
        "wall_s": wall,
        "docs_per_s": docs_per_iteration(workload) / wall,
        "cpu_s": statistics.median(s["cpu"] for s in samples),
    }


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------


def _prepare_environment() -> None:
    """Fail fast outside a full checkout; scope Spark's scratch space
    and the executors' import path to this checkout."""
    needed = ["gemproc2caom2_spark/__init__.py", "__spark_entry__.py",
              "tests/data/expected_verdicts.json"]
    missing = [p for p in needed if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"perfbench: not a full checkout of the engine (missing {', '.join(missing)})")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # remove what runs that were killed left behind
    if os.path.isdir(WORK):
        for name in os.listdir(WORK):
            if name.startswith("run-") and not _alive(name[4:]):
                shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # the JVM that spark-submit starts to build the driver's command line
    # would otherwise write an hsperfdata file to the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def _alive(pid: str) -> bool:
    return pid.isdigit() and os.path.exists(f"/proc/{pid}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["curate_crawl", "operator_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true",
                    help="store this run's digests as the expected ones for this seed")
    args = ap.parse_args(argv)
    _prepare_environment()

    from perfbench import probe

    t_run = time.perf_counter()
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "started": datetime.now(timezone.utc).isoformat(),
        "host": probe.host_facts(), "loadavg_start": probe.loadavg(),
        "steal_s": -probe.steal_s(),
        "build": probe.build_facts(ROOT), "errors": [],
    }
    bench = None
    metrics: dict = {}
    try:
        with probe.PeakRss() as rss:
            t0 = time.perf_counter()
            bench = Bench(args.seed)
            record["inputs_s"] = time.perf_counter() - t0
            record["settings"] = bench.settings()
            if args.trace:
                from perfbench.trace import traced_run

                metrics = traced_run(bench, args.workload, record)
            else:
                metrics = measure(bench, args.workload, args.seconds, record)
        if not args.trace and metrics:
            metrics["peak_rss_mb"] = rss.peak_mb
    except Exception:
        record["errors"].append(traceback.format_exc())
    finally:
        if bench is not None:
            bench.shutdown()
            shutil.rmtree(bench.run_dir, ignore_errors=True)
    record["loadavg_end"] = probe.loadavg()
    record["steal_s"] += probe.steal_s()
    record["elapsed_s"] = time.perf_counter() - t_run

    attempted = record.get("attempted", 1)
    failed = record.get("failed", 0 if metrics else attempted)
    correct = bool(metrics) and failed == 0 and not record["errors"]
    if args.pin and correct:
        for workload, digest in record.get("pins", {args.workload: record.get("digest")}).items():
            save_pin(workload, args.seed, digest)
    units = END_TO_END_UNITS if not args.trace else record.get("units", {})
    result = {
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    record["result"] = result
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stamp = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%S")
    path = os.path.join(
        WORK, "results", f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json"
    )
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for err in record["errors"]:
        print(f"perfbench: {err}", file=sys.stderr)
    for k, m in result["metrics"].items():
        print(f"# {args.workload} {k} = {m['value']:.6g} {m['unit']}")
    print(f"# record: {os.path.relpath(path, ROOT)}")
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
