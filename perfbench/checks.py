"""Correctness checks. Each takes plain Python/pandas data collected from
a finished run and returns a list of error strings (empty = pass). The
expectations are computed here, apart from the program, except where a
check is parity with the program's own single-process kernel by
definition (slice_parity)."""

from __future__ import annotations

from collections import Counter

import pandas as pd

from . import inputs as I

MAX_ERRORS = 5


def _diff(name: str, got: set, want: set) -> list[str]:
    if got == want:
        return []
    extra, missing = sorted(got - want), sorted(want - got)
    return [f"{name}: {len(extra)} unexpected {extra[:3]}, "
            f"{len(missing)} missing {missing[:3]}"]


# -- extract_slice -----------------------------------------------------------

def slice_hosts(input_urls: list[str], manifest: dict[str, int]) -> list[str]:
    """Per-host page counts equal the hosts parsed from the input urls."""
    want = Counter(I.host_of(u) for u in input_urls)
    got = Counter(manifest)
    bad = sorted(h for h in set(want) | set(got) if want[h] != got[h])
    return [f"slice_hosts: host {h} has {got[h]} pages, input has "
            f"{want[h]}" for h in bad[:MAX_ERRORS]]


def slice_parity(sample: dict[str, tuple], html: dict[str, bytes]) -> list[str]:
    """Spark's (ok, text) equals single-process kernel.clean_html, byte
    for byte."""
    from python_web_scraper_cleaner_spark.functions import kernel as K

    errs = []
    for url in sorted(html):
        want = K.clean_html(html[url], output_format="txt")
        got_ok, got_text = sample.get(url, (None, None))
        if got_ok != want.ok or got_text != want.text:
            errs.append(f"slice_parity: {url} differs from kernel.clean_html")
    return errs[:MAX_ERRORS]


def slice_paragraphs(sample: dict[str, tuple],
                     html: dict[str, bytes]) -> list[str]:
    """Every <p> that html.parser finds appears in the extracted text."""
    errs = []
    for url in sorted(html):
        ok, text = sample.get(url, (False, None))
        flat = " ".join((text or "").split())
        for para in I.paragraphs(html[url]):
            if not ok or para not in flat:
                errs.append(f"slice_paragraphs: {url} lost <p> "
                            f"{para[:40]!r}")
                break
    return errs[:MAX_ERRORS]


# -- one crawl round ---------------------------------------------------------

ORDER = ["priority", "warc_ts", "canonical_url"]


def _candidates(before: pd.DataFrame, seen: set) -> pd.DataFrame:
    """Robots-allowed pending urls not yet seen, in (priority, warc_ts,
    canonical_url) order."""
    f = before[before["canonical_url"].map(I.robots_allowed)
               & ~before["canonical_url"].isin(seen)]
    return f.sort_values(ORDER, kind="mergesort")


def round_selection(before: pd.DataFrame, seen: set, fetched: pd.DataFrame,
                    budget: int, hot_threshold: int | None) -> list[str]:
    """Per host, the first ``budget`` candidates in order. A hot host
    (more than ``hot_threshold`` candidates) is salted by the engine into
    sub-groups that each take their own top ceil(budget / n_salts), so
    for it only the count and membership are fixed: exactly ``budget``
    urls, all candidates."""
    errs = []
    got = dict(tuple(fetched.groupby("host")["canonical_url"]))
    for host, g in _candidates(before, seen).groupby("host", sort=True):
        have = set(got.pop(host, ()))
        if hot_threshold is not None and len(g) > hot_threshold:
            want_n, pool = budget, set(g["canonical_url"])
            if len(have) != want_n or not have <= pool:
                errs.append(f"round_selection: hot {host} fetched "
                            f"{len(have)} urls ({len(have - pool)} not "
                            f"candidates), want {want_n}")
        else:
            errs += _diff(f"round_selection {host}", have,
                          set(g["canonical_url"][:budget]))
    errs += [f"round_selection: {h} fetched {len(u)} urls, none pending"
             for h, u in sorted(got.items())]
    return errs[:MAX_ERRORS]


def round_slots(fetched: pd.DataFrame) -> list[str]:
    """Per host, slots run 1..n in (priority, warc_ts, canonical_url)
    order, and scheduled_offset_ms = (slot - 1) * crawl_delay_ms."""
    errs = []
    for host, g in fetched.groupby("host", sort=True):
        by_slot = g.sort_values("fetch_slot")
        slots = list(by_slot["fetch_slot"])
        if slots != list(range(1, len(g) + 1)):
            errs.append(f"round_slots: {host} slots {slots[:6]}... are not "
                        f"1..{len(g)}")
        if (list(by_slot["canonical_url"])
                != list(g.sort_values(ORDER)["canonical_url"])):
            errs.append(f"round_slots: {host} slot order differs from "
                        "(priority, warc_ts, canonical_url)")
        delay = I.crawl_delay_ms(host)
        bad = g[g["scheduled_offset_ms"] != (g["fetch_slot"] - 1) * delay]
        if len(bad):
            errs.append(f"round_slots: {host} offset != (slot-1)*{delay} "
                        f"for {list(bad['canonical_url'][:2])}")
    return errs[:MAX_ERRORS]


def round_disallowed(fetched: pd.DataFrame) -> list[str]:
    bad = sorted(u for u in fetched["canonical_url"]
                 if not I.robots_allowed(u))
    return [f"round_disallowed: fetched {u}" for u in bad[:MAX_ERRORS]]


def discovered(fetched_urls) -> set[str]:
    """The benchmark's own <a href> parse of every fetched page that
    exists in the corpus."""
    from python_web_scraper_cleaner_spark.sources.pages import page_record

    out = set()
    for u in fetched_urls:
        d = I.doc_id(u)
        if d is not None:
            out |= I.out_links(page_record(d)["html"], u)
    return out


def round_frontier(before: set, seen_before: set, fetched: set,
                   after: set) -> list[str]:
    """frontier after = frontier before - fetched + newly discovered."""
    remaining = before - fetched
    new = discovered(fetched) - seen_before - fetched - remaining
    return _diff("round_frontier", after, remaining | new)


# -- drain --------------------------------------------------------------------

def closure(seeds: set[str]) -> set[str]:
    """Breadth-first link closure of the seeds over robots-allowed urls:
    every url a drain fetches once."""
    todo = sorted(u for u in seeds if I.robots_allowed(u))
    done: set[str] = set(todo)
    while todo:
        nxt = []
        for u in discovered(todo):
            if u not in done and I.robots_allowed(u):
                done.add(u)
                nxt.append(u)
        todo = nxt
    return done


def drain_closure(seeds: set[str], fetched: list[str]) -> list[str]:
    return _diff("drain_closure", set(fetched), closure(seeds))


def drain_once(fetched: list[str]) -> list[str]:
    dups = sorted(u for u, n in Counter(fetched).items() if n > 1)
    return [f"drain_once: {len(dups)} urls fetched twice, e.g. "
            f"{dups[:3]}"] if dups else []


def drain_seen(url_seen: set, fetched: set) -> list[str]:
    return _diff("drain_seen", url_seen, fetched)


def drain_frontier(final_frontier: set) -> list[str]:
    bad = sorted(u for u in final_frontier if I.robots_allowed(u))
    return [f"drain_frontier: {len(bad)} robots-allowed urls left, "
            f"e.g. {bad[:3]}"] if bad else []


# -- one entry point per evidence kind ------------------------------------------
# Evidence is the plain data a run leaves for its checks; the self-test
# corrupts copies of it.

def check_slice(ev: dict) -> list[str]:
    return (slice_hosts(ev["urls"], ev["manifest"])
            + slice_parity(ev["sample"], ev["html"])
            + slice_paragraphs(ev["sample"], ev["html"]))


def check_round(ev: dict) -> list[str]:
    before, got = ev["before"], ev["got"]
    return (round_selection(before, ev["seen"], got, ev["budget"], ev["hot"])
            + round_slots(got)
            + round_disallowed(got)
            + round_frontier(set(before["canonical_url"]), ev["seen"],
                             set(got["canonical_url"]), ev["after"]))


def check_drain(ev: dict) -> list[str]:
    return (drain_closure(ev["seeds"], ev["fetched"])
            + drain_once(ev["fetched"])
            + drain_seen(ev["url_seen"], set(ev["fetched"]))
            + drain_frontier(ev["frontier"]))
