"""Sequential single-threaded oracle crawler.

An *independent* plain-Python implementation of the engine's crawl spec
(plans/crawl.py docstring) — the distributed engine must reproduce this
oracle's URL-seen set, crawl order, record derivation, and extracted text
byte-for-byte.  This mirrors the reference's test strategy: golden
end-to-end comparison against a deterministic fixture
(/root/reference/test/test_warcit.py), with the oracle playing the role of
the reference's sequential enumeration (/root/reference/warcit/base.py:34-61).

No Spark imports here: pandas + stdlib only.
"""

from __future__ import annotations

import math
import mimetypes
import re
from dataclasses import dataclass, field
from urllib.parse import urlsplit

DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21", "ws": "80", "wss": "443"}
HREF_RE = re.compile(r'<a\s[^>]*href="([^"]*)"')
EXT_RE = re.compile(r"\.[A-Za-z0-9]+$")
OTHER_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")
TAG_RE = re.compile(r"<[^>]*>")
WS_RE = re.compile(r"\s+")


def canonicalize(u: str) -> str | None:
    if u is None:
        return None
    u = u.strip().split("#", 1)[0].replace(" ", "%20")
    try:
        parts = urlsplit(u)
    except ValueError:
        return u
    if not parts.scheme or not parts.netloc:
        return u
    scheme = parts.scheme.lower()
    netloc = parts.netloc
    if ":" in netloc:
        host, _, port = netloc.rpartition(":")
        netloc = host if port == DEFAULT_PORTS.get(scheme, "") else host + ":" + port
    netloc = netloc.lower()
    path = parts.path or "/"
    query = "?" + "&".join(sorted(parts.query.split("&"))) if parts.query else ""
    return f"{scheme}://{netloc}{path}{query}"


def host_of(url: str) -> str | None:
    try:
        netloc = urlsplit(url).netloc
    except ValueError:
        return None
    if not netloc:
        return None
    host = netloc.rpartition(":")[0] if ":" in netloc else netloc
    return host.lower() or None


def path_of(url: str) -> str:
    try:
        return urlsplit(url).path or "/"
    except ValueError:
        return "/"


def extract_text(html: str) -> str:
    return WS_RE.sub(" ", TAG_RE.sub(" ", html)).strip()


def resolve_link(parent: str, href: str) -> str | None:
    href = href.strip()
    p = urlsplit(parent)
    base = f"{p.scheme}://{p.netloc}"
    parent_dir = re.sub(r"[^/]*$", "", p.path or "/")
    if re.match(r"^https?://", href):
        return href
    if OTHER_SCHEME_RE.match(href):
        return None
    if href == "" or href.startswith("#"):
        return None
    if href.startswith("/"):
        return base + href
    return base + parent_dir + href


def guess_content_type(url: str) -> str:
    mimetypes.init()
    table = dict(mimetypes.types_map)
    table.update(mimetypes.common_types)
    table[".ico"] = "image/x-icon"
    path = url.split("?", 1)[0]
    m = re.search(r"(\.[A-Za-z0-9]+)$", path)
    if m:
        return table.get(m.group(1).lower(), "text/html")
    return "text/html"


@dataclass
class OracleResult:
    seen: dict[str, tuple[int, str]] = field(default_factory=dict)  # url -> (round, reason)
    order: list[tuple[int, str, int, str]] = field(default_factory=list)  # (round, host, rank, url)
    records: list[dict] = field(default_factory=list)
    summaries: list[dict] = field(default_factory=list)


def crawl(
    pages: dict[str, dict],
    seeds: list[tuple[str, float]],
    robots: list[tuple[str, str, bool, float]],
    host_budget: int = 50,
    max_rounds: int = 20,
    link_decay: float = 0.8,
    index_files: tuple[str, ...] = ("index.html", "index.htm"),
) -> OracleResult:
    """pages: canonical url -> {warc_ts, html(bytes), text, lang}."""
    res = OracleResult()

    rules_by_host: dict[str, list] = {}
    host_delay: dict[str, float] = {}
    for host, prefix, allow, delay in robots:
        rules_by_host.setdefault(host, []).append((prefix, allow, delay))
        host_delay[host] = max(host_delay.get(host, 0.0), delay)

    def allowed_of(url: str, host: str) -> bool:
        best = None
        for prefix, allow, _delay in rules_by_host.get(host, []):
            if path_of(url).startswith(prefix):
                if best is None or len(prefix) > len(best[0]):
                    best = (prefix, allow)
        return True if best is None else best[1]

    def budget_of(host: str) -> int:
        delay = host_delay.get(host, 1.0)
        return max(1, math.floor(host_budget / max(1.0, delay)))

    # frontier: url -> (priority, round_added)
    frontier: dict[str, tuple[float, int]] = {}
    for url, prio in seeds:
        cu = canonicalize(url)
        h = host_of(cu)
        if h is None:
            continue
        if cu not in frontier or prio > frontier[cu][0]:
            frontier[cu] = (max(prio, frontier.get(cu, (prio,))[0]), 0)

    for rnd in range(max_rounds):
        if not frontier:
            break
        denied = {u for u in frontier if not allowed_of(u, host_of(u))}
        allowed = {u: v for u, v in frontier.items() if u not in denied}

        by_host: dict[str, list] = {}
        for u, (prio, added) in allowed.items():
            by_host.setdefault(host_of(u), []).append((u, prio, added))

        selected: dict[str, tuple[float, int, int]] = {}  # url -> (prio, added, rank)
        for h in sorted(by_host):
            rows = sorted(by_host[h], key=lambda t: (-t[1], t[0]))
            b = budget_of(h)
            for rank, (u, prio, added) in enumerate(rows[:b], start=1):
                selected[u] = (prio, added, rank)
                res.order.append((rnd, h, rank, u))
        deferred = {u: v for u, v in allowed.items() if u not in selected}

        for u in denied:
            res.seen[u] = (rnd, "robots")
        for u in selected:
            res.seen[u] = (rnd, "scheduled")

        links: dict[str, float] = {}
        n_links = 0
        for u, (prio, added, rank) in sorted(selected.items()):
            h = host_of(u)
            page = pages.get(u)
            fetched = page is not None
            res.records.append(
                {
                    "round": rnd,
                    "url": u,
                    "host": h,
                    "record_type": "resource",
                    "content_type": guess_content_type(u),
                    "rank_in_host": rank,
                    "fetched": fetched,
                    "reason": "fetched" if fetched else "missing",
                }
            )
            if not fetched:
                continue
            if any(u.lower().endswith("/" + f.lower()) for f in index_files):
                res.records.append(
                    {
                        "round": rnd,
                        "url": re.sub(r"[^/]+$", "", u),
                        "host": h,
                        "record_type": "revisit",
                        "content_type": guess_content_type(u),
                        "rank_in_host": rank,
                        "fetched": True,
                        "reason": "revisit",
                    }
                )
            if u.endswith(".html") or not EXT_RE.search(u):
                html = page["html"].decode("utf-8", "replace")
                for href in HREF_RE.findall(html):
                    resolved = resolve_link(u, href)
                    if resolved is None:
                        continue
                    cu = canonicalize(resolved)
                    if host_of(cu) is None:
                        continue
                    n_links += 1
                    child_prio = prio * link_decay
                    if cu not in links or child_prio > links[cu]:
                        links[cu] = child_prio

        new_urls = {
            u: p
            for u, p in links.items()
            if u not in res.seen and u not in deferred
        }
        next_frontier = dict(deferred)
        for u, p in new_urls.items():
            next_frontier[u] = (p, rnd + 1)

        res.summaries.append(
            {
                "round": rnd,
                "urls_in": len(frontier),
                "robots_denied": len(denied),
                "urls_emitted": len(selected),
                "links_found": n_links,
                "new_urls": len(new_urls),
                "frontier_next": len(next_frontier),
            }
        )
        frontier = next_frontier

    return res
