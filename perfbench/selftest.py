"""Self-test of the checks: run each workload once at a small size, assert
that every check passes on the real output, then hand each check a
corrupted copy of that output and assert that it rejects it.

    python3 perfbench/selftest.py

Corruptions: one url dropped, one disallowed url added, two slots
swapped, one byte of text changed (plus a duplicate fetch and an allowed
url left in the final frontier, for the drain checks those four cannot
reach). Takes about two minutes on 4 cores.
"""

from __future__ import annotations

import copy
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks as C  # noqa: E402
from perfbench import harness as H  # noqa: E402
from perfbench import trace as TR  # noqa: E402
from perfbench import workloads as W  # noqa: E402

DISALLOWED = "https://host3.example/private/99999999.html"


def _flip(s: str, i: int) -> str:
    return s[:i] + ("x" if s[i] != "x" else "y") + s[i + 1:]


# -- corruptions: (name, check fn, corrupt fn) ---------------------------------

def slice_drop(ev):
    host = sorted(ev["manifest"])[0]
    ev["manifest"][host] -= 1


def slice_add_disallowed(ev):
    host = "host3.example"
    ev["manifest"][host] = ev["manifest"].get(host, 0) + 1


def slice_byte(ev):
    """Change one byte inside the first paragraph of a sampled page."""
    from perfbench import inputs as I
    for url in sorted(ev["html"]):
        ok, text = ev["sample"][url]
        paras = I.paragraphs(ev["html"][url])
        if ok and paras and paras[0][:20] in text:
            ev["sample"][url] = (ok, _flip(text, text.index(paras[0][:20])
                                           + 5))
            return
    raise AssertionError("no sampled page with a paragraph")


def round_drop(ev):
    ev["got"] = ev["got"].iloc[1:]


def round_add_disallowed(ev):
    got = ev["got"]
    n = int((got["host"] == "host3.example").sum())
    row = got.head(1).assign(host="host3.example", canonical_url=DISALLOWED,
                             fetch_slot=n + 1, scheduled_offset_ms=n * 750)
    ev["got"] = pd.concat([got, row], ignore_index=True)


def round_swap_slots(ev):
    got = ev["got"].copy()
    hosts = got["host"].value_counts()
    host = hosts[hosts >= 2].index[0]
    idx = got[got["host"] == host].sort_values("fetch_slot").index[:2]
    a, b = got.loc[idx[0], "fetch_slot"], got.loc[idx[1], "fetch_slot"]
    got.loc[idx[0], "fetch_slot"], got.loc[idx[1], "fetch_slot"] = b, a
    ev["got"] = got


def round_byte(ev):
    after = sorted(ev["after"])
    ev["after"] = set(after[1:]) | {_flip(after[0], len(after[0]) - 6)}


def drain_drop(ev):
    ev["fetched"] = ev["fetched"][1:]


def drain_add_disallowed(ev):
    ev["fetched"] = ev["fetched"] + [DISALLOWED]


def drain_duplicate(ev):
    ev["fetched"] = ev["fetched"] + ev["fetched"][:1]


def drain_seen_drop(ev):
    ev["url_seen"] = set(sorted(ev["url_seen"])[1:])


def drain_frontier_add(ev):
    ev["frontier"] = ev["frontier"] | {sorted(ev["fetched"])[0]}


CASES = {
    "slice": [
        ("slice_hosts", lambda ev: C.slice_hosts(ev["urls"], ev["manifest"]),
         [slice_drop, slice_add_disallowed]),
        ("slice_parity", lambda ev: C.slice_parity(ev["sample"], ev["html"]),
         [slice_byte]),
        ("slice_paragraphs",
         lambda ev: C.slice_paragraphs(ev["sample"], ev["html"]),
         [slice_byte]),
    ],
    "round": [
        ("round_selection", lambda ev: C.round_selection(
            ev["before"], ev["seen"], ev["got"], ev["budget"], ev["hot"]),
         [round_drop, round_add_disallowed]),
        ("round_slots", lambda ev: C.round_slots(ev["got"]),
         [round_swap_slots]),
        ("round_disallowed", lambda ev: C.round_disallowed(ev["got"]),
         [round_add_disallowed]),
        ("round_frontier", lambda ev: C.round_frontier(
            set(ev["before"]["canonical_url"]), ev["seen"],
            set(ev["got"]["canonical_url"]), ev["after"]),
         [round_drop, round_byte]),
    ],
    "drain": [
        ("drain_closure", lambda ev: C.drain_closure(ev["seeds"],
                                                     ev["fetched"]),
         [drain_drop, drain_add_disallowed]),
        ("drain_once", lambda ev: C.drain_once(ev["fetched"]),
         [drain_duplicate]),
        ("drain_seen", lambda ev: C.drain_seen(ev["url_seen"],
                                               set(ev["fetched"])),
         [drain_seen_drop]),
        ("drain_frontier", lambda ev: C.drain_frontier(ev["frontier"]),
         [drain_frontier_add]),
    ],
}


def run_cases(evidence: list[tuple[str, dict]]) -> list[str]:
    """Every check passes on each real evidence item and rejects each of
    its corruptions. Returns the failures (empty = self-test passed)."""
    bad = []
    for kind, ev in evidence:
        for name, check, corruptions in CASES[kind]:
            if check(ev):
                bad.append(f"{name} rejects the real output: {check(ev)}")
            for corrupt in corruptions:
                cev = copy.deepcopy(ev)
                corrupt(cev)
                errs = check(cev)
                print(f"  {name:22} {corrupt.__name__:22} -> "
                      f"{'rejected' if errs else 'ACCEPTED'}"
                      + (f": {errs[0][:70]}" if errs else ""))
                if not errs:
                    bad.append(f"{name} accepted {corrupt.__name__}")
    return bad


def main() -> int:
    # small sizes: the checks, not the timings, are under test
    W.SLICE_PAGES, W.SLICE_SAMPLE = 2_000, 50
    W.BULK_SEEDS, W.BULK_BUDGET, W.BULK_HOT = 3_000, 40, 300
    work = H.make_workdir()
    spark = H.start_session(work, traced=False)
    bad = []
    try:
        for name in ("extract_slice", "bulk_round", "drain_crawl"):
            t = time.time()
            wdir = os.path.join(work, name)
            os.makedirs(wdir)
            res = W.WORKLOADS[name](spark, wdir, 7, 0, TR.NullTracer(),
                                    time.time())
            print(f"{name}: {time.time() - t:.1f} s, "
                  f"{len(res.evidence)} evidence items, "
                  f"{len(res.errors)} check errors")
            bad += [f"{name}: {e}" for e in res.errors]
            # one round per workload is enough: the first with >= 2 urls
            # on some host, so that slots can be swapped
            rounds = [ev for k, ev in res.evidence if k == "round"
                      and (ev["got"]["host"].value_counts() >= 2).any()]
            items = [(k, ev) for k, ev in res.evidence if k != "round"]
            bad += run_cases(items + [("round", ev) for ev in rounds[:1]])
            if name != "extract_slice" and not rounds:
                bad.append(f"{name}: no round with two urls on one host")
    finally:
        H.stop_session(spark)
        H.remove_workdir(work)
    for b in bad:
        print("SELFTEST FAILED:", b)
    print("selftest", "FAILED" if bad else "passed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
