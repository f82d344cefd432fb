"""Real-fetch operator (A13 real mode): a mapInPandas batch HTTP
client for when the engine crawls a live site instead of
fetch-simulating against an Iceberg snapshot.

Reference parity (/root/reference/crawler/wpull/crawler.py:33-45):
* User-Agent "CFPB website indexer" (UA)
* DNS/connect timeout 5 s, read timeout 30 s
* TLS verification off (--no-check-certificate)
* GET or HEAD per the frontier's fetch_method (plugin.py:121-126)
* HEAD responses carry no body; Content-Length/Transfer-Encoding are
  irrelevant to us because we never re-serve the response (the
  reference's header scrub at plugin.py:187-203 is a wpull-internal
  workaround — noted, not needed here)
* politeness: wpull paces serially with --wait; here each Arrow batch
  is grouped by host and fetched host-serially with a fixed wait, so
  a partition never hammers one host — cross-partition pacing comes
  from the frontier's politeness window (operators/frontier.py)
  keeping per-host rows per superstep under budget, and from
  hash-partitioning the frontier by host so one host's budget lands
  in one task

Output schema matches the web_pages lookup-join shape, so
``real_fetch`` is a drop-in swap for the Iceberg lookup: replace the
``fetch_sim_join`` call at the ``fetched =`` line of
``plans/crawl.py::run_crawl`` (or of ``streaming/crawl_stream.py``);
the downstream routing is the same.

The HTTP call is injectable (``fetch_fn``) — tests use a fake; the
default is a stdlib urllib client (no external deps).
"""

from __future__ import annotations

import time
from typing import Callable, Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

USER_AGENT = "CFPB website indexer"  # wpull/crawler.py:44
CONNECT_TIMEOUT_S = 5.0  # --timeout dns/connect (crawler.py:38-39)
READ_TIMEOUT_S = 30.0  # --timeout read/session (crawler.py:40-41)
DEFAULT_WAIT_S = 0.5  # --wait (crawler.py:36)

# wpull inherits wget's transient-retry loop and the reference's argv
# (crawler.py:28-51) leaves --tries at its default (20) instead of
# disabling it, so connect/read failures are retried with a growing
# wait BEFORE the plugin ever records its single terminal Error row
# (plugin.py:170-185). Bounded parity here: DEFAULT_TRIES attempts
# with linear backoff (wget --waitretry semantics: wait 1s, 2s, ...
# capped), retrying network errors (status 0); 5xx retry is opt-in
# via retry_statuses.
#
# DELIBERATE deviation from wget's tries=20 (ADVICE r3): a serial
# wget process can afford 20 attempts (~100s of backoff) on one dead
# URL; a batched executor task cannot — one dead host would pin a
# whole fetch partition for minutes and serialize the wave's tail,
# so the default budget is 3 attempts (≤3s backoff) and the terminal
# Error row (what the reference persists) is identical either way.
# Deployments that want full wget parity pass tries=20 through
# real_fetch — the loop itself implements wget's exact semantics.
DEFAULT_TRIES = 3
RETRY_BACKOFF_S = 1.0
RETRY_BACKOFF_CAP_S = 10.0

# (status_code, location, content_type, body) — status 0 = network error
FetchResult = Tuple[int, Optional[str], Optional[str], Optional[bytes]]
FetchFn = Callable[[str, str], FetchResult]

FETCHED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("status_code", T.IntegerType()),
        T.StructField("location", T.StringType()),
        T.StructField("content_type", T.StringType()),
    ]
)


def urllib_fetch(url: str, method: str) -> FetchResult:
    """Stdlib HTTP client with the reference's UA/timeouts/TLS-off.
    Redirects are NOT followed (the crawl loop routes 3xx itself).

    Two-phase timeouts, true to wpull's --timeout split
    (crawler.py:38-41): the TCP/TLS connect is bounded by
    CONNECT_TIMEOUT_S, then the socket is re-armed with READ_TIMEOUT_S
    for the response phase — a slow-but-alive server gets the full
    30 s the reference gives it instead of being misclassified as a
    network error at 5 s (ADVICE r1)."""
    import http.client
    import ssl
    from urllib.parse import urlsplit

    conn = None
    try:
        parts = urlsplit(url)
        if parts.scheme == "https":
            ctx = ssl.create_default_context()
            ctx.check_hostname = False
            ctx.verify_mode = ssl.CERT_NONE  # --no-check-certificate (crawler.py:43)
            conn = http.client.HTTPSConnection(
                parts.hostname,
                parts.port,
                timeout=CONNECT_TIMEOUT_S,
                context=ctx,
            )
        else:
            conn = http.client.HTTPConnection(
                parts.hostname, parts.port, timeout=CONNECT_TIMEOUT_S
            )
        conn.connect()  # DNS + TCP (+TLS) under the connect timeout
        conn.sock.settimeout(READ_TIMEOUT_S)  # response phase: read timeout
        path = parts.path or "/"
        if parts.query:
            path += "?" + parts.query
        conn.request(method, path, headers={"User-Agent": USER_AGENT})
        resp = conn.getresponse()
        location = resp.getheader("Location")
        ctype = (resp.getheader("Content-Type") or "").split(";")[0] or None
        if resp.status >= 300:
            # redirects + errors carry no body, like the fetch-sim
            # web_pages encoding (html NULL for non-200 rows)
            return (resp.status, location, ctype, None)
        # HEAD carries no body; b"" (not NULL) so the router does not
        # read it as the fetch-sim NULL-html network-error encoding
        # (plans/crawl.py eff_status)
        body = b"" if method == "HEAD" else resp.read()
        return (resp.status, location, ctype, body)
    except Exception:
        return (0, None, None, None)  # network error (plugin.py:176-183)
    finally:
        if conn is not None:
            conn.close()


def fetch_with_retry(
    fetch_fn: FetchFn,
    url: str,
    method: str,
    tries: int = DEFAULT_TRIES,
    backoff_s: float = RETRY_BACKOFF_S,
    retry_statuses: frozenset = frozenset(),
    sleep: Callable[[float], None] = time.sleep,
) -> FetchResult:
    """wpull/wget transient-retry parity (see DEFAULT_TRIES note): a
    transient failure — network error (status 0) or an opt-in status
    like 503 — is retried up to ``tries`` total attempts with a
    linearly growing wait; only after the last attempt does the
    terminal result flow to the router (which records ONE Error row,
    matching plugin.py:170-185's already-logged guard)."""
    result = fetch_fn(url, method)
    attempt = 1
    while attempt < tries and (
        result[0] == 0 or result[0] in retry_statuses
    ):
        sleep(min(backoff_s * attempt, RETRY_BACKOFF_CAP_S))
        result = fetch_fn(url, method)
        attempt += 1
    return result


def real_fetch(
    frontier: DataFrame,
    fetch_fn: FetchFn = urllib_fetch,
    wait_s: float = DEFAULT_WAIT_S,
    tries: int = DEFAULT_TRIES,
    backoff_s: float = RETRY_BACKOFF_S,
    retry_statuses: frozenset = frozenset(),
) -> DataFrame:
    """frontier(url, host, fetch_method, ...) -> fetched rows in the
    web_pages shape. Rows are repartitioned by host so each host's
    batch lands in one task, then fetched host-serially with pacing;
    transient failures retry per ``fetch_with_retry`` before a
    terminal status-0 row is emitted."""

    def fetch_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        last_hit: dict = {}
        for pdf in batches:
            out = {k.name: [] for k in FETCHED_SCHEMA.fields}
            for _, row in pdf.sort_values(["host", "url"]).iterrows():
                host = row["host"]
                elapsed = time.monotonic() - last_hit.get(host, 0.0)
                if elapsed < wait_s:
                    time.sleep(wait_s - elapsed)  # per-host pacing
                status, location, ctype, body = fetch_with_retry(
                    fetch_fn,
                    row["url"],
                    row.get("fetch_method", "GET") or "GET",
                    tries=tries,
                    backoff_s=backoff_s,
                    retry_statuses=retry_statuses,
                )
                last_hit[host] = time.monotonic()
                out["url"].append(row["url"])
                out["warc_ts"].append(
                    pd.Timestamp(time.time(), unit="s").floor("us")
                )
                out["html"].append(body)
                out["status_code"].append(status)
                out["location"].append(location)
                out["content_type"].append(ctype)
            yield pd.DataFrame(out)

    cols = [c for c in ("url", "host", "fetch_method") if c in frontier.columns]
    return (
        frontier.select(*cols)
        .repartition(F.col("host"))
        .mapInPandas(fetch_batches, FETCHED_SCHEMA)
    )
