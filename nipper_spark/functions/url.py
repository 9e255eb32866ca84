"""URL canonicalization + hashing (engine-side; required by the
north rule: scheme/host lowercasing, percent-decode, fragment strip,
sorted query — BASELINE.json north_star).

Pure functions here are the single source of truth: the same code runs
vectorized inside pandas UDFs on executors AND inside the
single-threaded crawl oracle, so "Spark matches the oracle" can never
diverge on canonicalization.
"""

from __future__ import annotations

import hashlib
import re
from urllib.parse import (
    parse_qsl, quote, unquote, urlencode, urljoin, urlsplit, urlunsplit)

# already-canonical fast path: lowercase scheme+host, rootful path with
# no percent-escapes / query / fragment / port / userinfo — the
# overwhelmingly common shape of canonical outlinks, checked with one
# C-speed regex instead of urlsplit+quote round-trips
_CANONICAL_RE = re.compile(
    r"^(https?)://([a-z0-9]([a-z0-9.-]*[a-z0-9])?)"
    r"(/[A-Za-z0-9/:@!$&'()*+,;=~\-._]*)$")

# origin of an already-canonical base URL (crawl bases always are) —
# used to fast-path root-relative hrefs without urljoin
_ORIGIN_RE = re.compile(r"^https?://[a-z0-9]([a-z0-9.-]*[a-z0-9])?(?=/|$)")
_DOT_SEGMENT_RE = re.compile(r"/\.")
# an exact "." or ".." path segment (the only things dot-segment
# removal touches) — "/.well-known" must NOT match
_DOT_SEG_EXACT_RE = re.compile(r"/\.\.?(?:/|$)")

# canonical-up-to-case-fragment-and-query-order: the dominant real
# outlink shape (absolute http(s), maybe UPPERCASE scheme/host, maybe
# #fragment, maybe a simple k=v&k=v query; no percent/port/userinfo).
# Canonicalizing is then lowercase scheme+host, default path "/",
# sort the query segments, drop the fragment — provably the same as
# the urlsplit/parse_qsl/urlencode slow path for every string this
# matches (the query k/v class is exactly urlencode's identity set).
_FAST_FULL_RE = re.compile(
    r"^([hH][tT][tT][pP][sS]?)://"
    r"([A-Za-z0-9](?:[A-Za-z0-9.-]*[A-Za-z0-9])?)"
    r"(/[A-Za-z0-9/:@!$&'()*+,;=~\-._]*)?"
    r"(?:\?([A-Za-z0-9_.~-]+=[A-Za-z0-9_.~-]*"
    r"(?:&[A-Za-z0-9_.~-]+=[A-Za-z0-9_.~-]*)*))?"
    r"(?:#[^#]*)?$")


def _fast_canonical(m: "re.Match") -> str:
    out = "%s://%s%s" % (m.group(1).lower(), m.group(2).lower(),
                         m.group(3) or "/")
    q = m.group(4)
    if q is not None:
        if "&" in q:
            # same order as sorted(parse_qsl(q)): key tuple, then value
            q = "&".join(sorted(q.split("&"),
                                key=lambda kv: tuple(kv.split("=", 1))))
        out = out + "?" + q
    return out

# characters never re-encoded in paths (RFC 3986 unreserved + sub-delims
# commonly left literal by crawlers)
_PATH_SAFE = "/:@!$&'()*+,;=~-._"
# per-SEGMENT safe set: a "/" decoded out of %2F must re-encode, not
# become a path separator (distinct URLs p%2Fq and p/q must not merge)
_SEG_SAFE = _PATH_SAFE.replace("/", "")

_DEFAULT_PORTS = {"http": "80", "https": "443"}

# THE host-extraction pattern, shared verbatim by every JVM-side
# regexp_extract twin (streaming keys, url filters) and the Python-side
# crawl keys (frontier.outlink_keys): bracketed IPv6 literal or a
# regular reg-name stopped by / or :
HOST_RE_SQL = r"^https?://(\[[^\]]+\]|[^/:]+)"

# WHATWG forbidden host code points (superset incl. %): any of these
# in a percent-DECODED host makes the URL invalid
_FORBIDDEN_HOST = frozenset("\x00\t\n\r #/:<>?@[\\]^|% ")


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 over a rootful path: drop exact "." segments,
    ".." pops (never above the root); a trailing "." or ".." leaves a
    directory slash."""
    segs = path.split("/")
    out = [segs[0]]
    for seg in segs[1:]:
        if seg == ".":
            continue
        if seg == "..":
            if len(out) > 1:
                out.pop()
        else:
            out.append(seg)
    if segs[-1] in (".", ".."):
        out.append("")
    return "/".join(out) or "/"


def canonicalize_url(url: str) -> str | None:
    """Deterministic canonical form; None for non-http(s)/unparseable.

    Rules (documented for the oracle): lowercase scheme+host, strip
    fragment and userinfo, drop default port, percent-decode then
    re-encode the path with a fixed safe set, remove "."/".." dot
    segments (RFC 3986 — the WHATWG path normalization dedup needs:
    /a/b/../c and /a/c are the same resource), backslashes before the
    query are path separators (WHATWG special-URL parsing), host is
    percent-decoded and IDNA-encoded (unicode hosts → punycode; the
    stdlib idna codec is the public IDNA-2003 approximation of the
    WHATWG domain-to-ASCII step), sort query params by (key, value),
    empty path → "/".
    """
    if not url:
        return None
    m = _CANONICAL_RE.match(url)
    if m is not None and _DOT_SEG_EXACT_RE.search(m.group(4)) is None:
        return url  # provably a fixed point of the slow path
    m = _FAST_FULL_RE.match(url)
    if m is not None and \
            _DOT_SEG_EXACT_RE.search(m.group(3) or "/") is None:
        return _fast_canonical(m)
    if "\\" in url:
        # WHATWG: \ == / in scheme/authority/path of special URLs;
        # backslashes in the query/fragment stay literal
        cut = len(url)
        for ch in "?#":
            i = url.find(ch)
            if i != -1:
                cut = min(cut, i)
        url = url[:cut].replace("\\", "/") + url[cut:]
    try:
        parts = urlsplit(url.strip())
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    host = parts.hostname
    if not host:
        return None
    host = host.lower().rstrip(".")
    if "%" in host:
        host = unquote(host).lower()
        # WHATWG forbidden host code points: a decoded host containing
        # URL structure characters is a parse FAILURE, not a host —
        # without this check http://victim.test%2F.evil.test/ would
        # re-attribute evil's URL to victim for robots/politeness/seen
        if any(c in _FORBIDDEN_HOST for c in host):
            return None
    if not host.isascii():
        try:
            host = host.encode("idna").decode("ascii")
        except UnicodeError:
            return None
    try:
        port = parts.port  # raises on non-numeric port garbage
    except ValueError:
        return None
    if ":" in host:
        # IPv6 literal: urlsplit.hostname strips the brackets, but the
        # canonical URL must keep them (a bare colon-ful host does not
        # re-parse — canonicalize would not be idempotent)
        host = "[" + host + "]"
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme):
        netloc = "%s:%d" % (host, port)
    # decode+re-encode PER SEGMENT: %2F must stay an encoded slash,
    # never become a separator (p%2Fq and p/q are different resources
    # — merging them poisons the URL-seen set)
    path = "/".join(quote(unquote(seg), safe=_SEG_SAFE)
                    for seg in parts.path.split("/")) or "/"
    path = _remove_dot_segments(path)
    query = ""
    if parts.query:
        pairs = sorted(parse_qsl(parts.query, keep_blank_values=True))
        query = urlencode(pairs)
    return urlunsplit((scheme, netloc, path, query, ""))


def resolve_and_canonicalize(base_url: str, href: str) -> str | None:
    """Resolve a (possibly relative) href against its page URL, then
    canonicalize. The outlink-extraction invariant of the engine."""
    href = (href or "").strip()
    if not href or href.startswith(("#", "javascript:", "mailto:", "data:")):
        return None
    # absolute-href fast path: urljoin returns an absolute http(s) URL
    # with a non-empty netloc unchanged (modulo scheme lowercasing and
    # params re-joining), so the resolve step can be skipped entirely —
    # the dominant outlink shape. ";" must take the slow path: urljoin
    # splits RFC-1808 params off the last segment and DROPS a trailing
    # empty-params ";" (measured: "http://b/;" → "http://b/").
    m = _FAST_FULL_RE.match(href)
    if m is not None and ";" not in (m.group(3) or "") and \
            _DOT_SEG_EXACT_RE.search(m.group(3) or "/") is None:
        return _fast_canonical(m)
    # root-relative fast path: origin + href, valid only when the
    # result is provably already canonical (same fixed-point argument
    # as _CANONICAL_RE in canonicalize_url)
    if href.startswith("/") and not href.startswith("//") \
            and ";" not in href and _DOT_SEGMENT_RE.search(href) is None:
        # ";" gets RFC-1808 params treatment and "." / ".." segments
        # get normalized by urljoin — both must take the slow path
        m = _ORIGIN_RE.match(base_url)
        if m is not None:
            candidate = m.group(0) + href
            if _CANONICAL_RE.match(candidate):
                return candidate
    try:
        absolute = urljoin(base_url, href)
    except ValueError:
        return None
    return canonicalize_url(absolute)


def host_of(url: str) -> str:
    """Lowercased host (no port/userinfo) — the politeness key. IPv6
    literals keep their brackets so the key equals the JVM twin's
    HOST_RE_SQL extraction."""
    try:
        h = (urlsplit(url).hostname or "").lower()
    except ValueError:
        return ""
    return "[" + h + "]" if ":" in h else h


def url_hash64(url: str) -> int:
    """Stable 64-bit signed hash (blake2b-8), process-independent —
    used for the URL-seen key and bloom indexing. (Spark-side columns
    use F.xxhash64; the two never need to agree because each structure
    is probed with the hash that built it.)"""
    h = hashlib.blake2b(url.encode("utf-8"), digest_size=8).digest()
    v = int.from_bytes(h, "big", signed=True)
    return v


def host_bucket(host: str, n_buckets: int) -> int:
    """Deterministic host → bucket; one host always lands in one bucket
    so politeness accounting is partition-local."""
    h = hashlib.blake2b(host.encode("utf-8"), digest_size=8,
                        person=b"hostbkt_").digest()
    return int.from_bytes(h, "big") % n_buckets
