"""Sequential single-threaded oracle crawler.

An *independent* plain-Python implementation of the engine's crawl spec
(plans/crawl.py docstring) — the distributed engine must reproduce this
oracle's URL-seen set, crawl order, record derivation, and extracted text
byte-for-byte.  This mirrors the reference's test strategy: golden
end-to-end comparison against a deterministic fixture
(/root/reference/test/test_warcit.py), with the oracle playing the role of
the reference's sequential enumeration (/root/reference/warcit/base.py:34-61).

The crawl oracle uses pandas + stdlib only.  The second implementations
at the end pin engine operators the same way (URL canonicalization, SURT,
as-of join, k-means, BPE merge training); only the as-of twin touches
Spark, through ``applyInPandas``.
"""

from __future__ import annotations

import math
import mimetypes
import re
from dataclasses import dataclass, field
from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21", "ws": "80", "wss": "443"}
HREF_RE = re.compile(r'<a\s[^>]*href="([^"]*)"')
EXT_RE = re.compile(r"\.[A-Za-z0-9]+$")
OTHER_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")
TAG_RE = re.compile(r"<[^>]*>")
WS_RE = re.compile(r"\s+")
END_OF_WORD = "</w>"


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


# ---------------------------------------- second implementations of operators
def canonicalize_urls_pandas(urls: pd.Series) -> pd.Series:
    """Independent vectorized implementation (urllib-based) for cross-checks.

    Wrapped by tests in ``pandas_udf(StringType())``; the engine's hot path
    uses :func:`canonicalize_url_expr` (JVM).  Agreement between the two on
    adversarial inputs is asserted in tests/test_urls.py.
    """
    from urllib.parse import urlsplit

    def one(u: str) -> str:
        if u is None:
            return None
        u = u.strip()
        u = u.split("#", 1)[0]
        u = u.replace(" ", "%20")
        try:
            parts = urlsplit(u)
        except ValueError:
            return u
        if not parts.scheme or not parts.netloc:
            return u
        scheme = parts.scheme.lower()
        netloc = parts.netloc
        # strip only a trailing ':<digits>' default port (same rule as the
        # JVM expression: IPv6 brackets and userinfo colons never match)
        m = re.search(r":(\d+)$", netloc)
        if m and m.group(1) == DEFAULT_PORTS.get(scheme, ""):
            netloc = netloc[: m.start()]
        netloc = netloc.lower()
        path = parts.path or "/"
        query = ""
        if parts.query:
            query = "?" + "&".join(sorted(parts.query.split("&")))
        return f"{scheme}://{netloc}{path}{query}"

    return urls.map(one)


def surt_py(url: str) -> str | None:
    """Pure-Python twin of :func:`surt_expr` (independent reimplementation
    for tests/property pins — the canonicalize_urls_pandas convention).
    Mirrors the expression semantics exactly: Java-regex-compatible
    patterns on the lowered string, space-only trim."""
    u = url.strip(" ").lower()
    u = u.split("#", 1)[0]
    m = re.match(r"^([a-z][a-z0-9+.\-]*)://", u)
    scheme = m.group(1) if m else ""
    m = re.match(r"^[a-z][a-z0-9+.\-]*://([^/?#]+)", u)
    auth = (m.group(1) if m else "").split("@")[-1]
    m = re.search(r":(\d+)$", auth)
    port = m.group(1) if m else ""
    host = re.sub(r":\d+$", "", auth)
    host = re.sub(r"^www\d*\.", "", host)
    if not host:
        return None
    dp = DEFAULT_PORTS.get(scheme, "")
    port_part = ":" + port if port and port != dp else ""
    m = re.match(r"^[a-z][a-z0-9+.\-]*://[^/?#]*([^?#]*)", u)
    path = (m.group(1) if m else "") or "/"
    m = re.search(r"\?(.*)", u)
    query = m.group(1) if m else ""
    q_part = "?" + "&".join(sorted(query.split("&"))) if query else ""
    return ",".join(reversed(host.split("."))) + port_part + ")" + path + q_part


def asof_join_pandas(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    right_cols: list[str] | None = None,
) -> DataFrame:
    """merge_asof per key group via applyInPandas (Arrow batches)."""
    import pandas as pd

    right_cols = right_cols or [c for c in right.columns if c not in (on, by)]
    l_cols = list(left.columns)
    out_fields = [
        f"`{c}` {left.schema[c].dataType.simpleString()}" for c in l_cols
    ] + [f"`{c}` {right.schema[c].dataType.simpleString()}" for c in right_cols]
    out_schema = ", ".join(out_fields)

    l_tag = left.withColumn("_side", F.lit("l"))
    r_tag = right.select(
        by, on, *right_cols
    ).withColumn("_side", F.lit("r"))
    cols = set(l_tag.columns) | set(r_tag.columns)
    l_full = l_tag.select(
        *[F.col(c) if c in l_tag.columns else F.lit(None).alias(c) for c in cols]
    )
    r_full = r_tag.select(
        *[F.col(c) if c in r_tag.columns else F.lit(None).alias(c) for c in cols]
    )

    def merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        lpdf = pdf[pdf["_side"] == "l"][l_cols].sort_values(on)
        rpdf = pdf[pdf["_side"] == "r"][[by, on, *right_cols]].sort_values(on)
        if lpdf.empty:
            return pd.DataFrame(columns=l_cols + right_cols)
        merged = pd.merge_asof(
            lpdf,
            rpdf.drop(columns=[by]),
            on=on,
            direction="backward",
            suffixes=("", "_r"),
        )
        return merged[l_cols + right_cols]

    return l_full.unionByName(r_full).groupBy(by).applyInPandas(merge, out_schema)


def kmeans_centroids_py(
    rows: list[tuple[int, list[float]]], k: int = 8, iters: int = 5
) -> list[list[float]]:
    """Pure-Python twin of :func:`kmeans_centroids` — bit-for-bit equal
    centroids (pinned by test), so DuckDB oracles can replay the quantizer
    without a SparkSession.

    Mirrors each Spark step exactly: double→DECIMAL(30,12) quantization is
    HALF_UP on the shortest-repr decimal (Spark's Decimal(double) path),
    sums are exact integers, the mean is float(exact decimal) / n, and the
    assignment argmin folds ``c2 - 2.0*dot`` left-to-right with a
    lowest-index tie-break, like ``_nearest_centroid_expr``.
    """
    import decimal

    q = decimal.Decimal("1e-12")

    def quant(v: float) -> decimal.Decimal:
        return decimal.Decimal(repr(v)).quantize(q, rounding=decimal.ROUND_HALF_UP)

    rows = sorted(rows)
    cents = [[float(x) for x in vec] for _, vec in rows[:k]]
    vecs = [[float(x) for x in vec] for _, vec in rows]
    qvecs = [[quant(x) for x in vec] for vec in vecs]
    dim = len(cents[0])
    for _ in range(iters):
        c2s = [sum(x * x for x in c) for c in cents]
        sums = {}
        for v, qv in zip(vecs, qvecs):
            best_i, best_s = None, None
            for i, c in enumerate(cents):
                dot = 0.0
                for a, b in zip(v, c):
                    dot = dot + a * b
                s = c2s[i] - 2.0 * dot
                if best_s is None or s < best_s:
                    best_i, best_s = i, s
            n, acc = sums.setdefault(best_i, [0, [decimal.Decimal(0)] * dim])
            sums[best_i][0] = n + 1
            for d in range(dim):
                acc[d] += qv[d]
        new = list(cents)
        for i, (n, acc) in sums.items():
            new[i] = [float(acc[d]) / n for d in range(dim)]
        cents = new
    return cents


def bpe_train_merges_py(texts, n_merges: int = 8):
    """Pure-Python twin (test pin): same tokenization, same greedy
    leftmost fusion, same (count desc, pair asc) tie-break."""
    import re
    from collections import Counter

    vocab = Counter()
    for t in texts:
        for w in re.split(r"[^a-z]+", t.lower()):
            if w:
                vocab[w] += 1
    syms = {w: [*w, END_OF_WORD] for w in vocab}
    merges = []
    for step in range(1, n_merges + 1):
        pc = Counter()
        for w, s in syms.items():
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += vocab[w]
        if not pc:
            break
        (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, a, b, c))
        for w, s in syms.items():
            out, i = [], 0
            for tok in s:
                if out and out[-1] == a and tok == b:
                    out[-1] = a + b
                else:
                    out.append(tok)
            syms[w] = out
    return merges
