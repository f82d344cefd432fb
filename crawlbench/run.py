#!/usr/bin/env python3
"""Crawl-and-serve benchmark for website-indexer-spark.

Run from the repository root:

    python3 crawlbench/run.py --workload crawl_deep --seed 1 --seconds 20 --trace 0

One run, in one process on ``local[<cores>]``:

1. set-up: Spark session, a corpus generated from ``--seed``
   (``sources.synth.generate_web_pages``), and WARMUP_CRAWLS warm-up
   crawls;
2. one timed ``plans.crawl.run_crawl``;
3. a viewer phase: ``plans.envelope.ViewerApp`` over the crawl's own
   store, one closed-loop client; one untimed request of each family
   first, then timed decks until ``--seconds`` have passed since the
   timed crawl began (at least MIN_VIEW_REQUESTS requests);
4. an untimed check of the crawl against ``tests/oracle_crawler`` and of
   every viewer response against counts computed from that oracle.

``--trace 1`` adds the per-layer probes (Spark status stores, write
attribution, leg replay, kernel profile, store scan and compaction) and
prints the per-layer metrics instead of the end-to-end ones. The metric
names and units come from BENCHMARK.json at the repository root. The
last line of stdout is one JSON object; diagnostics go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass
from typing import Dict, List

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)

SEED_URL = "https://host0.test/p0/"
START_HOST = "host0.test"
N_HOSTS = 20
N_PAGES = 1200
TABLES = ("routed", "seen", "frontier", "dims")


@dataclass(frozen=True)
class Workload:
    branching: int
    # requested-URL budget (the reference's max_pages): every seed
    # requests exactly this many URLs in the same number of supersteps,
    # so the seed changes the corpus but not the size of the crawl
    max_pages: int


WORKLOADS: Dict[str, Workload] = {
    # narrow BFS (8 links a page): 220 URLs in four supersteps, waves of
    # about 1, 8, 70 and 140 URLs. The crawl follows a redirect a
    # superstep later, so a redirect near the seed moves its subtree one
    # superstep on: the budget ends the crawl well inside its fourth
    # superstep, which held at least 250 URLs on each of 40 seeds tried
    "crawl_deep": Workload(branching=8, max_pages=220),
    # wide BFS (128 links a page): 300 URLs in three supersteps, waves
    # of about 1, 130 and 170 URLs, with 16 times the link rows
    "crawl_wide": Workload(branching=128, max_pages=300),
}

# The warm-up is the same work in every run, so every timed crawl starts
# from the same JVM state. It cannot be run to steady state within the
# run time: on a 4-core VM the CPU time of five 2-superstep crawls in a
# row kept falling (54.5, 35.9, 30.8, 27.4, 22.2 s), so a stop rule on
# agreement would stop at a different point in each run. The CPU time
# of each warm-up crawl is logged.
WARMUP_CRAWLS = 1
# a warm-up crawl stops after two supersteps: the seed wave and the
# first wave of its links, the crawl_wide fat wave included (no wave
# here crosses a size switch)
WARMUP_SUPERSTEPS = 2
# two timed decks of the mix: 46 JSON samples, 11 of them above the 75th
# percentile
MIN_VIEW_REQUESTS = 48
DRIVER_MEMORY = "3g"  # well under the host's RAM; the corpus is small


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"[crawlbench] {msg}", file=sys.stderr, flush=True)


def percentile(values: List[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def dir_usage(root: str):
    """(files, bytes) under ``root``."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


# --------------------------------------------------------------------
# Spark lifetime
# --------------------------------------------------------------------

def start_spark(tmp: str, cores: int):
    from website_indexer_spark.sources.tables import build_spark

    spark = build_spark(
        app_name="crawlbench",
        master=f"local[{cores}]",
        # one shuffle partition per core: the tables here are tiny
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(tmp, "spark"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job of the run in the status stores
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM and its Python workers."""
    from pyspark import SparkContext

    from crawlbench.probes import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    for pid in tree[1:]:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# --------------------------------------------------------------------
# One run
# --------------------------------------------------------------------

def run_workload(args, wl: Workload, tmp: str, cores: int) -> dict:
    from website_indexer_spark.plans.crawl import run_crawl
    from website_indexer_spark.plans.envelope import ViewerApp
    from website_indexer_spark.sources.synth import (
        generate_web_pages,
        host_boundaries,
    )
    from website_indexer_spark.sources.tables import load_web_pages

    from crawlbench import probes
    from crawlbench.oracle_check import check_crawl, oracle_web, run_oracle
    from crawlbench.viewer import (
        DECK_SIZE,
        ExpectedCounts,
        build_mix,
        check_sample,
        one_per_family,
        rows_returned,
        run_phase,
        send,
    )

    layer: Dict[str, float] = {}

    # ---- 1. set-up ------------------------------------------------
    t0 = time.perf_counter()
    spark = start_spark(tmp, cores)
    layer["setup.spark_start_s"] = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        corpus = os.path.join(tmp, "web_pages")
        generate_web_pages(
            spark, n_pages=N_PAGES, n_hosts=N_HOSTS, seed=args.seed,
            partitions=cores, branching=wl.branching,
        ).write.parquet(corpus)
        web = load_web_pages(spark, corpus)
        layer["setup.corpus_rows"] = web.count()
        layer["setup.corpus_gen_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        jvm_pid = spark.sparkContext._gateway.proc.pid
        warm: List[float] = []  # CPU seconds of each warm-up crawl
        for _ in range(WARMUP_CRAWLS):
            c0 = probes.tree_cpu_s(jvm_pid)
            out_dir = os.path.join(tmp, f"warmup-{len(warm)}")
            run_crawl(spark, web, SEED_URL, out_dir,
                      max_pages=wl.max_pages, max_supersteps=WARMUP_SUPERSTEPS)
            warm.append(probes.tree_cpu_s(jvm_pid) - c0)
            shutil.rmtree(out_dir, ignore_errors=True)
        layer["setup.warmup_s"] = time.perf_counter() - t0
        layer["setup.warmup_crawls"] = len(warm)
        log("warm-up crawls (CPU s): " + ", ".join(f"{w:.1f}" for w in warm)
            + f" in {layer['setup.warmup_s']:.1f}s")

        # ---- 2. timed crawl -------------------------------------------
        ledger = probes.SparkLedger(spark)
        crawl_root = os.path.join(tmp, "crawl")
        mark0 = ledger.mark()
        steal0, ticks0 = probes.host_cpu_ticks()
        cpu0 = probes.tree_cpu_s(jvm_pid)
        setup_s = probes.process_age_s()
        wall0 = time.time()
        t_crawl = time.perf_counter()
        result = run_crawl(spark, web, SEED_URL, crawl_root,
                           max_pages=wl.max_pages)
        crawl_s = time.perf_counter() - t_crawl
        wall1 = time.time()
        cpu_s = probes.tree_cpu_s(jvm_pid) - cpu0
        steal1, ticks1 = probes.host_cpu_ticks()
        mark1 = ledger.mark()

        # ---- 3. viewer phase ------------------------------------------
        tables = {t: result.store.read_all(t) for t in ("pages", "errors", "redirects")}
        app = ViewerApp(tables)
        host_pages = host_boundaries(N_PAGES, N_HOSTS)[1]
        mix = build_mix(args.seed, 20 * DECK_SIZE, START_HOST, host_pages, {
            "pages": result.pages, "errors": result.errors,
            "redirects": result.redirects,
        })
        # one untimed request of each family first, from the end of the
        # mix, so no query shape runs cold when timed
        t_view = time.perf_counter()
        warm_deck = [send(app, req) for req in one_per_family(mix[-DECK_SIZE:])]
        mark_view = ledger.mark()
        samples = run_phase(app, mix, t_crawl + args.seconds, MIN_VIEW_REQUESTS)
        mark2 = ledger.mark()
        view_s = time.perf_counter() - t_view

        # ---- end-to-end metrics (nothing below is timed) ----------------
        json_ms = [s.ms for s in samples if s.request.family != "csv"]
        files, store_bytes = dir_usage(crawl_root)
        e2e = {
            "setup_s": setup_s,
            "crawl_urls_per_s": result.requested / crawl_s,
            "crawl_cpu_ms_per_url": cpu_s * 1000.0 / result.requested,
            "view_p50_ms": statistics.median(json_ms),
            "view_p75_ms": percentile(json_ms, 75),
            "store_bytes_per_page": store_bytes / result.pages,
        }
        steal_pct = 100.0 * (steal1 - steal0) / max(1, ticks1 - ticks0)
        jvm_rss = probes.peak_rss_mb([jvm_pid])
        py_rss = probes.peak_rss_mb(probes.python_pids(jvm_pid))
        log(
            f"crawl {result.requested} urls / {result.supersteps} supersteps "
            f"in {crawl_s:.2f}s; {len(warm_deck)} + {len(samples)} viewer "
            f"requests in {view_s:.1f}s; "
            f"steal {steal_pct:.2f}%; jvm peak rss {jvm_rss:.0f} MB; "
            f"python peak rss {py_rss:.0f} MB"
        )

        by_family: Dict[str, List[float]] = {}
        for s in samples:
            by_family.setdefault(s.request.family, []).append(s.ms)
        log("viewer p50 ms by family: " + ", ".join(
            f"{fam} {statistics.median(ms):.0f}" for fam, ms in by_family.items()
        ))

        # ---- per-layer probes (traced run only) --------------------------
        failures: List[str] = []
        if args.trace:
            layer.update(crawl_layers(
                ledger, result, crawl_root, mark0, mark1, wall0, wall1,
                crawl_s, cores, failures,
            ))
            win_view = ledger.window(mark_view, mark2)
            returned = sum(rows_returned(s) for s in samples)
            layer["view.requests"] = len(samples)
            layer["view.json_samples"] = len(json_ms)
            layer["view.spark_jobs_per_request"] = len(win_view.job_ids) / len(samples)
            layer["view.rows_scanned_per_row_returned"] = (
                ledger.totals(win_view.stage_owner).input_records / max(1, returned)
            )
            for fam, ms in by_family.items():
                layer[f"view.{fam}_p50_ms"] = statistics.median(ms)
            layer["store.files"] = files
            layer["store.bytes"] = store_bytes
            layer["host.steal_pct"] = steal_pct
            layer["mem.jvm_peak_rss_mb"] = jvm_rss
            layer["mem.python_peak_rss_mb"] = py_rss
            layer["trace.crawl_urls_per_s"] = e2e["crawl_urls_per_s"]
            layer["trace.view_p50_ms"] = e2e["view_p50_ms"]

        # ---- 4. correctness -------------------------------------------
        t_check = time.perf_counter()
        corpus_web = oracle_web(web)
        oracle = run_oracle(corpus_web, SEED_URL, wl.max_pages)
        crawl_problems = check_crawl(result, oracle)
        expected = ExpectedCounts(
            oracle, {u: r.html for u, r in corpus_web.items()}
        )
        view_problems = []
        for s in warm_deck + samples:
            try:
                problem = check_sample(s, expected, oracle.pages)
            except Exception as exc:  # a check that raises is a failed request
                problem = f"{s.request.path} {s.request.params}: check raised {exc!r}"
            if problem is not None:
                view_problems.append(problem)
        for p in crawl_problems + view_problems + failures:
            log("FAILED: " + p)
        failed = (1 if crawl_problems else 0) + len(view_problems)
        attempted = 1 + len(warm_deck) + len(samples)
        log(f"check took {time.perf_counter() - t_check:.1f}s")

        if args.trace:
            layer.update(
                deep_layers(spark, web, result, wl.max_pages, ledger, tmp, crawl_root)
            )
    finally:
        stop_spark(spark)

    return {
        "e2e": e2e,
        "layer": layer,
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0 and not failures,
    }


def crawl_layers(ledger, result, crawl_root, mark0, mark1, wall0, wall1,
                 crawl_s, cores, failures) -> Dict[str, float]:
    """Superstep-driver and Spark metrics of the timed crawl, read from
    the store's commit markers and Spark's status stores."""
    from crawlbench import probes

    out: Dict[str, float] = {}
    manifests = result.store.manifests()
    commits = [wall0] + [
        os.stat(os.path.join(crawl_root, "manifests", f"{m['superstep']}.json")).st_mtime
        for m in manifests
    ]
    gaps = [b - a for a, b in zip(commits, commits[1:])]
    out["crawl.supersteps"] = result.supersteps
    out["crawl.requested"] = result.requested
    out["crawl.pages"] = result.pages
    out["crawl.errors"] = result.errors
    out["crawl.redirects"] = result.redirects
    out["crawl.largest_wave"] = max(m["counters"]["requested"] for m in manifests)
    out["crawl.superstep_p50_s"] = statistics.median(gaps)
    out["crawl.superstep_max_s"] = max(gaps)

    win = ledger.window(mark0, mark1)
    tot = ledger.totals(win.stage_owner)
    out["crawl.spark_jobs"] = len(win.job_ids)
    out["crawl.spark_jobs_per_superstep"] = len(win.job_ids) / result.supersteps
    out["crawl.spark_stages"] = tot.stages
    out["crawl.spark_tasks"] = tot.tasks
    out["crawl.busy_ratio"] = tot.run_ms / 1000.0 / (crawl_s * cores)
    out["spark.executor_run_s"] = tot.run_ms / 1000.0
    out["spark.executor_cpu_s"] = tot.cpu_ns / 1e9
    out["spark.jvm_gc_s"] = tot.gc_ms / 1000.0
    out["spark.shuffle_read_bytes"] = tot.shuffle_read_bytes
    out["spark.shuffle_write_bytes"] = tot.shuffle_write_bytes
    out["spark.spill_bytes"] = tot.spill_bytes
    out["spark.input_bytes"] = tot.input_bytes
    out["spark.output_bytes"] = tot.output_bytes

    per_table, unattributed, total = probes.attribute_run_ms(
        ledger, win, crawl_root, TABLES
    )
    for name, ms in per_table.items():
        out[f"store.write_run_s.{name}"] = ms / 1000.0
    out["spark.unattributed_run_s"] = unattributed / 1000.0
    identity = sum(per_table.values()) + unattributed
    # the stage list of the status store, read by time rather than by
    # the crawl's jobs, must give the same executor run time
    listed = ledger.completed_run_ms(wall0, wall1)
    log(f"write attribution (ms): {per_table} + unattributed {unattributed} "
        f"= {identity}; executor run total {tot.run_ms}; stages completed "
        f"during the crawl {listed}")
    if identity != tot.run_ms or total != tot.run_ms or listed != tot.run_ms:
        failures.append(
            f"write attribution {identity} ms, window total {tot.run_ms} ms, "
            f"stage list {listed} ms differ"
        )
    idle = [name for name, ms in per_table.items() if ms == 0]
    if idle:
        failures.append(f"no executor time attributed to the writes of {idle}")
    return out


def deep_layers(spark, web, result, max_pages, ledger, tmp, crawl_root) -> Dict[str, float]:
    """Traced-only probes that run more Spark work after the check:
    leg replay, kernel profile, store scan, and compaction (last, since
    it rewrites the store)."""
    from crawlbench.legs import kernel_probe, replay_superstep

    out: Dict[str, float] = {}
    manifests = result.store.manifests()
    k = max(range(1, len(manifests)), key=lambda i: manifests[i]["counters"]["requested"])
    remaining = max_pages - sum(m["counters"]["requested"] for m in manifests[:k])
    legs = replay_superstep(
        spark, web, result.store, k, SEED_URL, START_HOST, remaining,
        os.path.join(tmp, "replay"),
    )
    out.update(legs)
    out["legs.sum_s"] = sum(legs.values())
    m_prev = os.path.join(crawl_root, "manifests", f"{k - 1}.json")
    m_this = os.path.join(crawl_root, "manifests", f"{k}.json")
    out["legs.superstep_wall_s"] = os.stat(m_this).st_mtime - os.stat(m_prev).st_mtime
    log(f"leg replay of superstep {k}: legs sum {out['legs.sum_s']:.3f}s "
        f"vs in-crawl wall {out['legs.superstep_wall_s']:.3f}s")

    out.update(kernel_probe(spark, web, START_HOST, ledger))

    t0 = time.perf_counter()
    result.store.read_all("pages").write.format("noop").mode("overwrite").save()
    out["store.scan_pages_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    result.store.compact()
    out["store.compact_s"] = time.perf_counter() - t0
    out["store.files_after_compact"] = dir_usage(crawl_root)[0]
    return out


# --------------------------------------------------------------------
# Entry point
# --------------------------------------------------------------------

def load_metric_specs(trace: int) -> Dict[str, str]:
    """name -> unit of the metrics this run must print."""
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [REPO]
    try:
        import pyspark  # noqa: F401

        import tests.oracle_crawler  # noqa: F401
        import website_indexer_spark  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the program from {REPO}: {exc}")
        return 2
    specs = load_metric_specs(args.trace)
    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))

    tmp_base = os.path.join(os.getcwd(), ".crawlbench_tmp")
    tmp = os.path.join(tmp_base, f"run-{os.getpid()}")
    os.makedirs(tmp)
    # every temp file of the run (JVM, Spark, Python workers) lands here
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out = run_workload(args, wl, tmp, cores)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_base)
        except OSError:
            pass

    values = out["layer"] if args.trace else out["e2e"]
    missing = sorted(set(specs) - set(values))
    if missing:
        log(f"metrics not produced: {missing}")
        return 1
    print(json.dumps({
        "correct": out["correct"],
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {
            name: {"value": float(values[name]), "unit": unit}
            for name, unit in specs.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
