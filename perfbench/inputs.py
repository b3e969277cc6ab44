"""Workload inputs drawn from the seed, and the benchmark's own HTML and
URL handling that the checks compare the program against.

Every page id maps to its url and HTML through the program's synthetic
corpus (sources/pages.page_url / page_record): the engine's simulated
fetch regenerates HTML from the id, so that corpus is the only way to put
pages in front of it. Everything else here (link parsing, canonical form,
host and path splitting, robots matching) is written apart from the
program, with the standard library only.
"""

from __future__ import annotations

import datetime as dt
import random
import re
from html.parser import HTMLParser
from urllib.parse import urljoin, urlsplit

# robots rules the crawl workloads bootstrap with: every synthetic host
# (host0..host47) disallows /private and asks for a staggered crawl delay
N_HOSTS = 48
DISALLOW = ("/private",)
SEED_TS = dt.datetime(2026, 1, 1)
DOC_RE = re.compile(r"/(\d+)\.html$")


def crawl_delay_ms(host: str) -> int:
    return (int(host[4:].split(".")[0]) * 250) % 1000


def robots_rows() -> list[tuple]:
    return [(f"host{h}.example", (h * 250) % 1000, list(DISALLOW))
            for h in range(N_HOSTS)]


def sample_ids(seed: int, n: int, universe: int) -> list[int]:
    """n distinct page ids out of [0, universe), sorted."""
    return sorted(random.Random(seed).sample(range(universe), n))


def drain_seed_ids(seed: int, n_held_back: int = 10) -> list[int]:
    """Every id in [0, 100) except a seeded sample of n_held_back
    robots-allowed ids. Each held-back id is linked from a seed page, and
    links only to urls the seeds or their pages already name. The link
    closure of [0, 100) stays inside it, so every drain has the same
    shape: the seeds, then the discovered pages, then an empty round."""
    from python_web_scraper_cleaner_spark.sources.pages import (
        page_record, page_url)

    url = {i: canonical(page_url(i)) for i in range(100)}
    links = {i: out_links(page_record(i)["html"], url[i])
             for i in range(100) if robots_allowed(url[i])}

    def one_hop(held: set[int]) -> bool:
        seed_links = set().union(*(links[j] for j in links
                                   if j not in held))
        known = seed_links | {url[j] for j in url if j not in held}
        return all(url[h] in seed_links and links[h] <= known
                   for h in held)

    held: set[int] = set()
    for i in random.Random(seed).sample(sorted(links), len(links)):
        if one_hop(held | {i}):
            held.add(i)
            if len(held) == n_held_back:
                break
    return [i for i in range(100) if i not in held]


def doc_id(url: str) -> int | None:
    m = DOC_RE.search(url)
    return int(m.group(1)) if m else None


def canonical(url: str) -> str:
    """Lower-case scheme and host, no default port, no fragment, empty
    path as '/'."""
    p = urlsplit(url)
    scheme, host = p.scheme.lower(), (p.hostname or "").lower()
    if p.port and not ((scheme == "https" and p.port == 443)
                       or (scheme == "http" and p.port == 80)):
        host = f"{host}:{p.port}"
    path = p.path or "/"
    return f"{scheme}://{host}{path}" + (f"?{p.query}" if p.query else "")


def host_of(url: str) -> str:
    return (urlsplit(url).hostname or "").lower()


def path_of(url: str) -> str:
    return urlsplit(url).path or "/"


def robots_allowed(url: str) -> bool:
    return not path_of(url).startswith(DISALLOW)


class _Anchors(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.hrefs: list[str] = []

    def handle_starttag(self, tag, attrs) -> None:
        if tag == "a":
            self.hrefs += [v for k, v in attrs if k == "href" and v]


def out_links(html: bytes, base_url: str) -> set[str]:
    """Canonical http(s) targets of every <a href> in a page."""
    p = _Anchors()
    p.feed(html.decode("utf-8", errors="replace"))
    p.close()
    out = set()
    for h in p.hrefs:
        u = urljoin(base_url, h.strip())
        if urlsplit(u).scheme in ("http", "https"):
            out.add(canonical(u.split("#", 1)[0]))
    return out


class _Paragraphs(HTMLParser):
    """Text of every <p> element (nested inline tags included)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.paras: list[str] = []
        self._cur: list[str] | None = None

    def handle_starttag(self, tag, attrs) -> None:
        if tag == "p":
            self._cur = []

    def handle_endtag(self, tag) -> None:
        if tag == "p" and self._cur is not None:
            self.paras.append("".join(self._cur))
            self._cur = None

    def handle_data(self, data) -> None:
        if self._cur is not None:
            self._cur.append(data)


def paragraphs(html: bytes) -> list[str]:
    """Whitespace-collapsed, non-empty <p> texts of a page."""
    p = _Paragraphs()
    p.feed(html.decode("utf-8", errors="replace"))
    p.close()
    return [t for t in (" ".join(x.split()) for x in p.paras) if t]
