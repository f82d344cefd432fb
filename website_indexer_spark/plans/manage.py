"""Crawl-store maintenance CLI — the rebuild of
`manage.py manage_crawls` (reference:
/root/reference/crawler/management/commands/manage_crawls.py).

A "crawls root" holds one store directory per crawl run (each with
its crawl.json record, superstep deltas, and manifests). Operators:

* list   (D1, manage_crawls.py:14-17) — newest first
* delete (D2, manage_crawls.py:20-30) — cascade-drop one crawl's
         store (+ --dry-run)
* clean  (D3, manage_crawls.py:33-69) — drop non-latest Started
         crawls and keep only the newest --keep per terminal status

The top-K retention policy itself is also available as a DataFrame
operator (plans/queries.clean_crawls — the window formulation) for
engines managing crawl records in a table instead of directories;
this CLI is the driver-side twin operating on store layout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
from typing import List, Optional, Tuple

STATUSES = ("Started", "Finished", "Failed")


def _read_record(store_dir: str) -> Optional[dict]:
    path = os.path.join(store_dir, "crawl.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def list_crawls(root: str) -> List[Tuple[str, dict]]:
    """(store_dir, record) pairs, newest started first (D1)."""
    out = []
    for name in os.listdir(root):
        store_dir = os.path.join(root, name)
        if not os.path.isdir(store_dir):
            continue
        rec = _read_record(store_dir)
        if rec is not None:
            out.append((store_dir, rec))
    out.sort(key=lambda p: p[1].get("started", ""), reverse=True)
    return out


def delete_crawl(root: str, name: str, dry_run: bool = False) -> bool:
    """D2: cascade delete one crawl's whole store."""
    store_dir = os.path.join(root, name)
    if _read_record(store_dir) is None:
        return False
    if not dry_run:
        shutil.rmtree(store_dir)
    return True


def clean_crawls(root: str, keep: int = 10, dry_run: bool = False) -> List[str]:
    """D3: returns deleted store names. Non-latest Started crawls go;
    Finished/Failed keep only the newest ``keep`` each."""
    crawls = list_crawls(root)
    doomed: List[str] = []
    started_seen = 0
    per_status = {s: 0 for s in STATUSES}
    for store_dir, rec in crawls:  # newest first
        status = rec.get("status", "Started")
        per_status[status] = per_status.get(status, 0) + 1
        if status == "Started":
            started_seen += 1
            if started_seen > 1:
                doomed.append(store_dir)
        elif per_status[status] > keep:
            doomed.append(store_dir)
    for store_dir in doomed:
        if not dry_run:
            shutil.rmtree(store_dir)
    return [os.path.basename(d) for d in doomed]


def main() -> None:  # pragma: no cover - CLI veneer
    ap = argparse.ArgumentParser(description="manage crawl stores")
    ap.add_argument("root", help="directory containing one store per crawl")
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list")
    d = sub.add_parser("delete")
    d.add_argument("name")
    d.add_argument("--dry-run", action="store_true")
    c = sub.add_parser("clean")
    c.add_argument("--keep", type=int, default=10)
    c.add_argument("--dry-run", action="store_true")
    k = sub.add_parser(
        "compact",
        help="rewrite one crawl's per-superstep delta files into one "
        "coalesced superstep (file-count maintenance; offline, "
        "crash-safe — the Iceberg rewrite_data_files analogue)",
    )
    k.add_argument("name")
    rb = sub.add_parser(
        "rebucket",
        help="change a crawl store's physical seen/dims bucket "
        "count(s) — a crash-safe compaction rewrite (meta-first "
        "pending flag; an interrupted rewrite is finished at the next "
        "writer entry). A new store starts at 1 and a crawl grows it "
        "to 8 once its history leaves the broadcast tier; a count "
        "set here other than 1 is never changed by a crawl",
    )
    rb.add_argument("name")
    rb.add_argument("--seen-buckets", type=int)
    rb.add_argument("--dims-buckets", type=int)
    r = sub.add_parser(
        "recrawl",
        help="schedule a recrawl: rank URLs by change rate from a "
        "CDXJ capture index (Cho-GM estimator), evict the top-k from "
        "the crawl's committed seen table (crash-safe bucket-pruned "
        "rewrite — operators/recrawl.py), and optionally write "
        "the reseed frontier for run_crawl(resume, extra_frontier=)",
    )
    r.add_argument("name")
    r.add_argument("--cdx", required=True, help="CDXJ path/glob")
    r.add_argument("--k", type=int, default=100)
    r.add_argument("--now-epoch", type=int, required=True)
    r.add_argument(
        "--reseed-out", help="write the reseed frontier parquet here"
    )
    args = ap.parse_args()

    if args.cmd == "list":
        for store_dir, rec in list_crawls(args.root):
            print(
                f"{os.path.basename(store_dir)}  {rec.get('status'):<10}"
                f"  started={rec.get('started')}  config={rec.get('config')}"
            )
    elif args.cmd == "delete":
        ok = delete_crawl(args.root, args.name, args.dry_run)
        print(("would delete " if args.dry_run else "deleted ") + args.name
              if ok else f"no such crawl: {args.name}")
    elif args.cmd == "clean":
        gone = clean_crawls(args.root, args.keep, args.dry_run)
        verb = "would delete" if args.dry_run else "deleted"
        print(f"{verb}: {', '.join(gone) if gone else '(nothing)'}")
    elif args.cmd == "rebucket":
        from website_indexer_spark.sources.tables import (
            CrawlStore,
            build_spark,
        )

        store_dir = os.path.join(args.root, args.name)
        if _read_record(store_dir) is None:
            print(f"no such crawl: {args.name}")
            return
        spark = build_spark(app_name="wi-rebucket")
        stats = CrawlStore(spark, store_dir).rebucket(
            seen_buckets=args.seen_buckets,
            dims_buckets=args.dims_buckets,
        )
        if not stats:
            print("nothing to do (counts unchanged)")
        for table, st in stats.items():
            print(
                f"{table}: {st['files_before']} -> {st['files_after']} "
                f"files (supersteps <= {st['upto']})"
            )
    elif args.cmd == "recrawl":
        from website_indexer_spark.operators.recrawl import (
            recrawl_invalidate,
            recrawl_seed_frontier,
        )
        from website_indexer_spark.sources.cdx import (
            cdx_change_rate,
            read_cdxj,
            recrawl_topk,
        )
        from website_indexer_spark.sources.tables import (
            CrawlStore,
            build_spark,
        )

        store_dir = os.path.join(args.root, args.name)
        if _read_record(store_dir) is None:
            print(f"no such crawl: {args.name}")
            return
        spark = build_spark(app_name="wi-recrawl")
        store = CrawlStore(spark, store_dir)
        rates = cdx_change_rate(
            read_cdxj(spark, args.cdx), now_epoch=args.now_epoch
        )
        topk = recrawl_topk(rates, args.k).persist()
        stats = recrawl_invalidate(spark, store, topk)
        print(json.dumps(stats))
        if args.reseed_out:
            recrawl_seed_frontier(topk).write.mode("overwrite").parquet(
                args.reseed_out
            )
            print(f"reseed frontier -> {args.reseed_out}")
        topk.unpersist()
    elif args.cmd == "compact":
        from website_indexer_spark.sources.tables import CrawlStore, build_spark

        store_dir = os.path.join(args.root, args.name)
        if _read_record(store_dir) is None:
            print(f"no such crawl: {args.name}")
            return
        spark = build_spark(app_name="wi-compact")
        for table, stats in CrawlStore(spark, store_dir).compact().items():
            print(
                f"{table}: {stats['files_before']} -> "
                f"{stats['files_after']} files (supersteps <= {stats['upto']})"
            )


if __name__ == "__main__":  # pragma: no cover
    main()
