"""URL canonicalization helpers — pure Python (UDF-side) + native Column
expressions (JVM-side) for the pieces Catalyst can do for free.

The reference delegates URL handling to wpull's URLInfo
(/root/reference/crawler/wpull/plugin.py:77, 112-119, 129-162). The
rebuild's canonical form:

* resolved against the parent page URL (urljoin)
* fragment stripped
* scheme + host lowercased
* default ports removed (http:80 / https:443)
* ``/external-site/?ext_url=X`` unwrapped to X when on the start host
  (plugin.py:134-157 does this at frontier level too, not just parse)

``hostname_with_port`` mirrors wpull's URLInfo.hostname_with_port used
in every host comparison (plugin.py:115-118, 127).
"""

from __future__ import annotations

import re
from typing import Optional
from urllib import parse

EXTERNAL_SITE_RE = re.compile("/external-site/")

_DEFAULT_PORTS = {"http": 80, "https": 443}

# ---- canonicalize fast path ----------------------------------------
# The full canonicalize pipeline costs ~24 µs/href (urljoin + two
# urlsplits + urlunsplit); at web fan-out (tens of links per page,
# 10^11 links at 10^10 pages) it is the single largest CPU item in the
# frontier-harvest leg. Most real hrefs are either already-canonical
# absolute URLs or plain site-relative paths, for which the canonical
# output is computable by string concatenation alone. The fast paths
# below are REGEX-GATED to exactly the inputs where that computation
# is provably byte-identical to the slow path (equivalence pinned by a
# hypothesis test over both paths — tests/test_properties.py):
#
# * absolute: lowercase http(s) scheme, lowercase bare host (no port,
#   no userinfo), "/"-rooted path, no fragment/whitespace/backslash
#   (urljoin returns absolute targets verbatim — no dot-segment
#   resolution on the netloc branch — and every normalization the
#   slow path applies is already satisfied, so output == input).
# * relative: "/"-rooted (not "//"), no dot segments (urljoin DOES
#   resolve those for relative refs), same charset limits; base must
#   be a canonical-shaped absolute URL, so output == base-prefix+href.
#
# Anything outside the gates (ports, IDN/uppercase hosts, fragments,
# whitespace, dot segments, protocol-relative, mailto:, broken bases)
# takes the exact slow path unchanged. ";" is excluded from the PATH
# part (urljoin applies urlparse's RFC-1808 params split to the final
# path segment — "/p;" loses its empty params through a join — but
# never to the query, where ";" stays allowed).
_FAST_BASE_RE = re.compile(r"\A(https?://[a-z0-9.\-]+)/[^\s\\#]*\Z")
_FAST_ABS_RE = re.compile(
    r"\Ahttps?://[a-z0-9.\-]+/[^\s\\#;?]*(?:\?[^\s\\#]*)?\Z"
)
_FAST_REL_RE = re.compile(r"\A/(?!/)[^\s\\#;?]*(?:\?[^\s\\#]*)?\Z")


def hostname_with_port(url: str) -> Optional[str]:
    """Lowercased ``host`` or ``host:port`` (non-default ports only)."""
    try:
        parsed = parse.urlsplit(url)
        host = parsed.hostname
        port = parsed.port
    except ValueError:
        return None
    if not host:
        return None
    if port and port != _DEFAULT_PORTS.get(parsed.scheme or ""):
        return f"{host}:{port}"
    return host


def canonicalize_url(href: str, base_url: Optional[str] = None) -> Optional[str]:
    """Resolve + normalize one href. Returns None for unusable links."""
    href = (href or "").strip()
    if not href:
        return None
    # fast paths (see _FAST_*_RE above). The empty-query guard: a
    # trailing lone "?" is dropped by urlunsplit, so such hrefs must
    # take the slow path to get that normalization.
    if base_url is None:
        if _FAST_ABS_RE.match(href) and href.find("?") != len(href) - 1:
            return href
    else:
        base_m = _FAST_BASE_RE.match(base_url)
        if base_m and href.find("?") != len(href) - 1:
            if _FAST_ABS_RE.match(href):
                return href
            if _FAST_REL_RE.match(href) and "/." not in href:
                return base_m.group(1) + href
    return _canonicalize_url_slow(href, base_url)


def _canonicalize_url_slow(href: str, base_url: Optional[str]) -> Optional[str]:
    """The full resolve+normalize pipeline; ``href`` is already
    stripped and non-empty. The fast paths above must be byte-
    equivalent to this on every input they accept (hypothesis-pinned:
    tests/test_properties.py::test_canonicalize_fast_path_equivalence)."""
    try:
        resolved = parse.urljoin(base_url, href) if base_url else href
        split = parse.urlsplit(resolved)
    except ValueError:
        return None
    scheme = (split.scheme or "").lower()
    if scheme not in ("http", "https"):
        return None
    host = split.hostname
    if not host:
        return None
    try:
        port = split.port
    except ValueError:
        return None
    netloc = host.lower()
    if port and port != _DEFAULT_PORTS.get(scheme):
        netloc = f"{netloc}:{port}"
    path = split.path or "/"
    # The canonical form must be a fixed point of this function: fragment
    # stripping can expose trailing whitespace (href='0 #') that the input
    # .strip() would remove on a second pass, letting one URL enter the
    # seen set under two byte-forms. And the stripped string can end in
    # an empty ";params" (href='; #') that urljoin drops on a second
    # pass. So a string the strip shortened goes through once more; each
    # round is shorter, and canonicalize(canonicalize(x)) ==
    # canonicalize(x).
    out = parse.urlunsplit((scheme, netloc, path, split.query, ""))
    stripped = out.strip()
    if stripped != out:
        return _canonicalize_url_slow(stripped, base_url) if stripped else None
    return out or None


def unwrap_external_site(url: str, start_host_with_port: str) -> str:
    """plugin.py:134-157 — replace an /external-site/?ext_url=X URL on
    the start host with X itself (the frontier never fetches the
    wrapper). No-op for everything else."""
    # cheap gate: the path can only match EXTERNAL_SITE_RE if the
    # substring occurs somewhere in the URL at all — skips the
    # urlsplit for the overwhelmingly common non-wrapper case
    if "/external-site/" not in url:
        return url
    try:
        split = parse.urlsplit(url)
    except ValueError:
        return url
    if not EXTERNAL_SITE_RE.match(split.path or ""):
        return url
    if hostname_with_port(url) != start_host_with_port:
        return url
    ext = parse.parse_qs(split.query).get("ext_url")
    if ext:
        return ext[0]
    return url
