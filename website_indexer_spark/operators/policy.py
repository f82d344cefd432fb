"""The accept-url policy cascade (SURVEY.md §2.A A4-A12) as native
Column expressions — all JVM-side, whole-stage-codegen friendly; no
Python in this module's hot path.

Reference: /root/reference/crawler/wpull/plugin.py:92-168 (accept_url).
The cascade runs over a frontier DataFrame that already carries
``host``, ``parent_host``, ``url_path``, ``url_query`` columns (see
functions/udfs.with_url_parts).

Ordering note: the reference applies the cascade at dequeue time; we
apply it at enqueue time. The accepted set is identical because every
predicate depends only on the URL and its parent — not on crawl state
— except max_pages (A10), which stays a driver-side dequeue rule.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# plugin.py:22-33 — verbatim skip patterns (Java regex compatible).
SKIP_URL_PATTERNS = [
    r"^https://www\.facebook\.com/dialog/share\?.*",
    r"^https://twitter\.com/intent/tweet\?.*",
    r"^https://x\.com/intent/tweet\?.*",
    r"^https://www\.linkedin\.com/shareArticle\?.*",
]

# plugin.py:34 — domains fetched with HEAD instead of GET.
HEAD_URL_PATTERNS = [r"https://files\.consumerfinance\.gov/.*"]


@dataclass
class CrawlPolicy:
    """The accept-url cascade's config: the reference's start URL and
    plugin pattern constants (models.py:12-16, plugin.py:22-34). The
    page budget, depth cap and host budget are ``run_crawl`` options."""

    start_url: str
    skip_url_patterns: List[str] = field(default_factory=lambda: SKIP_URL_PATTERNS)
    head_url_patterns: List[str] = field(default_factory=lambda: HEAD_URL_PATTERNS)


def _any_rlike(col: Column, patterns: List[str]) -> Column:
    cond = F.lit(False)
    for p in patterns:
        cond = cond | col.rlike(p)
    return cond


def querystring_ok(query: Column) -> Column:
    """A9 (plugin.py:159-162): on the start host, only querystrings
    whose parsed keys are exactly ["page"] are crawlable.

    parse_qs drops segments with no '=' or an empty value, so the
    exact rule is: zero surviving pairs is OK (qs falsy), otherwise
    every surviving pair's key must be 'page'.
    """
    pairs = F.filter(F.split(query, "&"), lambda s: s.rlike("^[^=]*=."))
    keys = F.array_distinct(
        F.transform(pairs, lambda s: F.regexp_extract(s, "^([^=]*)=", 1))
    )
    return (F.size(pairs) == 0) | (keys == F.array(F.lit("page")))


def accept_url_filter(
    frontier: DataFrame,
    start_host: str,
    policy: CrawlPolicy,
) -> DataFrame:
    """Apply A4-A9 to a frontier delta, returning accepted rows with a
    ``fetch_method`` column. Columns required: url, host, parent_host,
    url_path, url_query."""
    url = F.col("url")
    is_start_host = F.col("host") == start_host

    df = frontier

    # A4 skip-list (plugin.py:108-110)
    if policy.skip_url_patterns:
        df = df.filter(~_any_rlike(url, policy.skip_url_patterns))

    # A5 one-hop off-domain gate (plugin.py:112-119): never follow
    # links whose parent page is off the start host.
    df = df.filter(F.col("parent_host") == start_host)

    # A6 HEAD conversion (plugin.py:121-126)
    is_head = (
        _any_rlike(url, policy.head_url_patterns)
        if policy.head_url_patterns
        else F.lit(False)
    )
    df = df.withColumn("fetch_method", F.when(is_head, "HEAD").otherwise("GET"))

    # A7 filename-path filter (plugin.py:129-132) — start host only,
    # and (matching the reference's elif) not for HEAD-matched URLs.
    on_host_checked = is_start_host & ~is_head
    df = df.filter(~(on_host_checked & F.col("url_path").contains(".")))

    # A9 querystring policy (plugin.py:159-162) — start host only.
    # (A8 external-site unwrap happens during canonicalization, so by
    # the time a URL reaches this filter it is never a wrapper.)
    df = df.filter(~on_host_checked | querystring_ok(F.col("url_query")))

    return df


def parse_robots_body(
    body: Optional[str], agent: str = "*", with_allow: bool = False
):
    """One robots.txt body → the rules that apply to `agent`
    (lowercase). Pure function — the UDF in `parse_robots_rules` maps
    it over per-host bodies, and the hypothesis fuzz tests drive it
    directly.

    Default (with_allow=False, reference-parity mode): a list of
    Disallow path prefixes; Allow lines are ignored (prefix-only
    Disallow semantics — conservative for a crawler: over-blocking is
    safe, under-blocking is not; the reference itself runs --no-robots
    so no parity is at stake). with_allow=True (the RFC 9309 mode):
    a list of ('allow'|'disallow', path) pairs, so the filter can
    apply longest-match precedence with Allow winning ties (§2.2.2)."""
    if body is None:
        return []
    rules: list = []
    group_agents: List[str] = []
    in_rules = False  # inside a group's rule lines
    applies = False
    for raw in str(body).splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if in_rules:  # a new group starts
                group_agents, in_rules = [], False
            group_agents.append(val.lower())
            applies = any(
                a == "*" or a == agent or agent.startswith(a)
                for a in group_agents
            )
        elif key == "disallow":
            in_rules = True
            if applies and val:
                rules.append(("disallow", val) if with_allow else val)
        elif key == "allow":
            in_rules = True  # still terminates the agent run
            if with_allow and applies and val:
                rules.append(("allow", val))
        elif key == "crawl-delay":
            in_rules = True
        # RFC 9309 §2.2.4: sitemap (and other non-group directives) do
        # NOT split adjacent user-agent groups — 'User-agent: a /
        # Sitemap: x / User-agent: b / Disallow: /p' must give agent a
        # the /p rule. Ignore such lines without closing the run.
    return rules


def parse_robots_rules(
    robots_bodies: DataFrame,
    host_col: str = "host",
    body_col: str = "body",
    agent: str = "*",
    allow_precedence: bool = False,
) -> DataFrame:
    """robots.txt bodies → the (host, path_prefix) Disallow table
    `robots_filter` consumes, completing A12 for real-fetch mode.

    Grammar handled (the de-facto standard subset wpull's gate obeys):
    User-agent groups (rules apply to the LAST run of user-agent lines
    before them; `*` matches any agent), Disallow path prefixes,
    comments (#) and blank lines as group separators. Allow lines and
    wildcards inside paths are ignored (prefix-only semantics —
    conservative for a crawler: over-blocking is safe, under-blocking
    is not). An empty Disallow means "allow all" per the spec and
    produces no rule.

    One Arrow-batched UDF pass (robots bodies are per-host — thousands
    of short strings, never corpus-scale) then an explode; the output
    is broadcast-sized by construction.

    allow_precedence=True (RFC 9309 mode, default OFF to preserve
    reference parity — the reference runs --no-robots entirely):
    Allow lines are kept and the output gains a ``rule`` column
    ('allow'|'disallow') so ``robots_filter`` can apply §2.2.2
    longest-match precedence. Paths stay prefix-semantics (no * / $
    wildcards) in both modes.
    """
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    want = agent.lower()

    # no annotations: module-level `from __future__ import annotations`
    # stringifies hints, defeating pandas_udf's type-hint inference —
    # the explicit returnType + default SCALAR eval type are enough
    @pandas_udf(T.ArrayType(T.StringType()))
    def parse_udf(bodies):
        return bodies.map(lambda b: parse_robots_body(b, want))

    if not allow_precedence:
        return (
            robots_bodies.select(
                F.col(host_col).alias("host"),
                F.explode(parse_udf(F.col(body_col))).alias("path_prefix"),
            )
            .distinct()
        )

    # RFC mode: encode (rule, path) as 'rule\npath' inside the UDF —
    # robots values are line-split upstream so a path can never
    # contain '\n' — then split once on the JVM side.
    @pandas_udf(T.ArrayType(T.StringType()))
    def parse_rfc_udf(bodies):
        return bodies.map(
            lambda b: [
                f"{kind}\n{path}"
                for kind, path in parse_robots_body(b, want, with_allow=True)
            ]
        )

    pair = F.split(F.col("_enc"), "\n", 2)
    return (
        robots_bodies.select(
            F.col(host_col).alias("host"),
            F.explode(parse_rfc_udf(F.col(body_col))).alias("_enc"),
        )
        .select(
            "host",
            pair.getItem(0).alias("rule"),
            pair.getItem(1).alias("path_prefix"),
        )
        .distinct()
    )


def robots_filter(frontier: DataFrame, robots: Optional[DataFrame]) -> DataFrame:
    """A12: optional robots gating — ``robots`` is a small rules table;
    broadcast join on host + prefix match. Default OFF to match the
    reference's --no-robots.

    Two rule-table shapes, discriminated by schema:
    * (host, path_prefix) — Disallow-only prefix semantics (reference-
      parity mode, what ``parse_robots_rules`` emits by default).
    * (host, rule, path_prefix) — RFC 9309 mode (parse_robots_rules
      with allow_precedence=True): for each URL the LONGEST matching
      rule wins; on equal lengths Allow wins (§2.2.2), and a URL with
      no matching rule is allowed. Expressed as one broadcast inner
      join + a per-URL max() of match lengths per rule type — still
      zero frontier-side shuffles beyond the aggregation on the
      (wave-bounded) matched subset."""
    if robots is None:
        return frontier
    if "rule" in robots.columns:
        matched = frontier.select("url", "host", "url_path").alias("f").join(
            F.broadcast(robots.alias("r")),
            (F.col("f.host") == F.col("r.host"))
            & F.col("f.url_path").startswith(F.col("r.path_prefix")),
            "inner",
        )
        plen = F.length(F.col("r.path_prefix"))
        disallowed = (
            matched.groupBy(F.col("f.url").alias("url"))
            .agg(
                F.max(
                    F.when(F.col("r.rule") == "disallow", plen).otherwise(-1)
                ).alias("_d"),
                F.max(
                    F.when(F.col("r.rule") == "allow", plen).otherwise(-1)
                ).alias("_a"),
            )
            .filter(F.col("_d") > F.col("_a"))  # allow wins ties
            .select("url")
        )
        return frontier.join(F.broadcast(disallowed), "url", "left_anti")
    disallowed = (
        frontier.alias("f")
        .join(
            F.broadcast(robots.alias("r")),
            (F.col("f.host") == F.col("r.host"))
            & F.col("f.url_path").startswith(F.col("r.path_prefix")),
            "left_semi",
        )
        .select("f.url")
    )
    return frontier.join(disallowed, "url", "left_anti")


def parse_crawl_delay(body: Optional[str], agent: str = "*"):
    """One robots.txt body → the Crawl-delay (seconds, float) that
    applies to ``agent``, or None. Same group-walk as
    parse_robots_body (a Crawl-delay line belongs to the user-agent
    run above it and does not split adjacent groups' rule runs).
    When several applying groups declare delays, the MAX wins — the
    conservative read, matching the over-block-is-safe stance the
    Disallow parser takes. Unparseable values are ignored."""
    if body is None:
        return None
    delay = None
    group_agents: List[str] = []
    in_rules = False
    applies = False
    for raw in str(body).splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if in_rules:
                group_agents, in_rules = [], False
            group_agents.append(val.lower())
            applies = any(
                a == "*" or a == agent or agent.startswith(a)
                for a in group_agents
            )
        elif key in ("disallow", "allow"):
            in_rules = True
        elif key == "crawl-delay":
            in_rules = True
            if applies:
                try:
                    v = float(val)
                except ValueError:
                    continue
                if v >= 0 and (delay is None or v > delay):
                    delay = v
    return delay


def crawl_delay_budgets(
    robots_bodies: DataFrame,
    superstep_seconds: float,
    host_col: str = "host",
    body_col: str = "body",
    agent: str = "*",
    min_budget: int = 1,
) -> DataFrame:
    """robots.txt bodies → a per-host (host, budget) table for
    politeness_select: budget = how many requests fit in one
    superstep at the host's declared Crawl-delay
    (floor(superstep_seconds / delay), never below ``min_budget`` so
    a host can always make progress). Hosts without a usable
    Crawl-delay emit NO row — the selection's coalesce falls back to
    the crawl-wide host_budget. Output is broadcast-sized by
    construction (one row per delay-declaring host)."""
    import pandas as pd  # noqa: F401
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    want = agent.lower()

    @pandas_udf(T.DoubleType())
    def delay_udf(bodies):
        return bodies.map(lambda b: parse_crawl_delay(b, want))

    # The parser IS deterministic, but the nondeterministic mark is a
    # deliberate optimizer barrier: without it Catalyst pushes the
    # `_d IS NOT NULL` filter through an upstream distinct whenever
    # the body column derives from the grouping keys (the gate's
    # synthetic derivation does), evaluating the Python parse once
    # PER INPUT ROW — per document at 100 TB — and then a second time
    # above the aggregate. Barriered, the parse runs exactly once per
    # host row.
    delay_udf = delay_udf.asNondeterministic()

    with_delay = robots_bodies.select(
        F.col(host_col).alias("host"), delay_udf(F.col(body_col)).alias("_d")
    ).filter(F.col("_d").isNotNull())
    budget = F.when(
        F.col("_d") <= 0, F.lit(None).cast("long")
    ).otherwise(
        F.greatest(
            F.floor(F.lit(float(superstep_seconds)) / F.col("_d")),
            F.lit(int(min_budget)),
        )
    )
    return with_delay.select("host", budget.alias("budget")).filter(
        F.col("budget").isNotNull()
    )


def robots_sitemaps(
    robots_bodies: DataFrame,
    host_col: str = "host",
    body_col: str = "body",
) -> DataFrame:
    """``Sitemap:`` directive URLs per host → (host, sitemap_url).

    RFC 9309 §2.3 makes Sitemap a non-group directive — it applies
    regardless of user-agent groups, so no group-state machine is
    needed and the extraction is ONE native multiline regexp over the
    body (fuses into the scan projection; zero Python, zero exchanges
    before the closing distinct). The reference's robots handling
    lives in wpull (it runs --no-robots); this producer is the
    discovery half of the sitemap bootstrap: its output joins the
    fetched XML into `sources/sitemap.py::seeds_from_sitemaps`.

    Comment handling per the RFC: a ``#`` ends the line's value, and
    the URL token stops at whitespace.
    """
    urls = F.regexp_extract_all(
        F.col(body_col),
        F.lit(r"(?im)^[ \t]*sitemap[ \t]*:[ \t]*([^#\s]+)"),
        F.lit(1),
    )
    return (
        robots_bodies.select(
            F.col(host_col).alias("host"),
            F.explode(urls).alias("sitemap_url"),
        )
        .distinct()
    )
