"""Same-window A/B(/n) bench across code versions (VERDICT r2 #1):
the sandbox VM's noisy-neighbor CPU makes cross-session comparisons
meaningless, so version-vs-version questions ("did round N make the
crawl slower?") are answered by INTERLEAVING the versions' benches in
one window, bracketed by busy-worker probes that quantify how much
hardware the window actually delivered.

Usage:
    python tools/ab_bench.py label=dir [label=dir ...] [rounds]

Each dir is a checkout (git worktree) holding bench.py. Per round,
every version runs once, in order; per version the best crawl time
across rounds is the machine-capability number. Prints one summary
JSON line last.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from scaling_run import cpu_ceiling  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_bench(repo: str, label: str) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
        ),
        SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "32"),
        BENCH_SKIP_QUERIES="1",
        BENCH_SKIP_COMPACTION="1",
        # per-version corpus cache: deterministic given the version's
        # generator, safe to reuse across rounds within the version
        BENCH_CORPUS_DIR=f"/tmp/wi_ab_corpus_{label}",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        check=True,
        cwd=repo,
    )
    last = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(last)


def main() -> None:
    pairs = []
    rounds = 3
    for arg in sys.argv[1:]:
        if "=" in arg:
            label, path = arg.split("=", 1)
            pairs.append((label, os.path.abspath(path)))
        else:
            rounds = int(arg)
    if not pairs:
        pairs = [("HEAD", ROOT)]

    p0 = cpu_ceiling(1, 4)
    print(f"probe(before) 1->4: {p0:.2f}x", flush=True)
    results: dict = {label: [] for label, _ in pairs}
    for rnd in range(rounds):
        for label, path in pairs:
            r = run_bench(path, label)
            results[label].append(r)
            print(
                f"round {rnd + 1}/{rounds} {label}: crawl={r['crawl']['crawl_sec']}s "
                f"urls/s={r['value']} requested={r['crawl']['requested']}",
                flush=True,
            )
    p1 = cpu_ceiling(1, 4)
    print(f"probe(after) 1->4: {p1:.2f}x", flush=True)

    summary = {
        "probe_before": round(p0, 2),
        "probe_after": round(p1, 2),
        "rounds": rounds,
        "versions": {
            label: {
                "crawl_sec_best": min(r["crawl"]["crawl_sec"] for r in rs),
                "crawl_sec_all": [r["crawl"]["crawl_sec"] for r in rs],
                "urls_per_sec_best": max(r["value"] for r in rs),
                "requested": rs[0]["crawl"]["requested"],
            }
            for label, rs in results.items()
        },
    }
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
