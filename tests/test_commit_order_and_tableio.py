"""Crash-window and maintenance regressions from the round-5 engine
review: the resume marker (crawl_log) must commit LAST so every crash
window replays; retries rows may never outlive their frontier url;
TableIO must survive torn snapshot files and >5-digit snapshot ids.
TableIO.commit_round overlaps a round's writes but publishes in list
order, so a failed write leaves exactly a prefix of the round committed.
"""

import contextlib
import json
import os
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from python_web_scraper_cleaner_spark.plans.crawl import CrawlEngine
from python_web_scraper_cleaner_spark.sources.tableio import TableIO


def _seeds(spark, n, n_hosts=3):
    rows = [(f"https://host{i % n_hosts}.test/p/{i}", 0,
             "2026-06-01T00:00:00") for i in range(n)]
    return (spark.createDataFrame(rows, "url string, priority int, "
                                  "discovered_ts string")
            .withColumn("discovered_ts",
                        F.to_timestamp("discovered_ts")))


def _robots(spark, n_hosts=3):
    return spark.createDataFrame(
        [(f"host{i}.test", [], [], 0) for i in range(n_hosts)],
        "host string, disallow_prefixes array<string>, "
        "allow_prefixes array<string>, crawl_delay_ms long")


def _rollback_to_round(io, name, round_id):
    for snap in reversed(io.snapshots(name)):
        if snap["round"] <= round_id:
            io.rollback(name, snap["snapshot"])
            return
    # no snapshot at/below round_id: drop the table pointer entirely
    os.remove(os.path.join(io.root, name, "LATEST"))


# ---------------------------------------------------------------------------
# crawl_log-last commit ordering
# ---------------------------------------------------------------------------


def test_crawl_log_is_the_last_commit_of_a_round(spark, tmp_path):
    """The resume marker must trail every other table's round id — a
    crash at ANY point inside run_round leaves crawl_log behind, so
    run() re-enters the round's replay path instead of skipping it."""
    eng = CrawlEngine(spark, str(tmp_path / "s"), per_host_budget=4,
                      discover_links=True)
    eng.bootstrap(_seeds(spark, 12), _robots(spark))
    eng.run(max_rounds=2)
    last = eng.last_round()
    # every member of the commit set is at (or past) the marker's round
    for t in ("pages", "url_seen", "frontier"):
        assert (eng.io.latest_round(t) or -1) >= last, t


def test_crash_between_frontier_and_crawl_log_replays(spark, tmp_path):
    """THE window the old ordering could not heal: everything committed
    except the crawl_log marker. Resume must replay the round (not skip
    it), keep the discovered links in the frontier, and converge to the
    uninterrupted store."""
    def mk(root):
        e = CrawlEngine(spark, str(root), per_host_budget=4,
                        discover_links=True)
        e.bootstrap(_seeds(spark, 12), _robots(spark))
        return e

    full = mk(tmp_path / "full")
    full.run(max_rounds=3)

    crashed = mk(tmp_path / "c")
    crashed.run(max_rounds=3)
    # simulate: round-1 crash after the frontier advance, before the
    # marker — ONLY crawl_log rolls back
    _rollback_to_round(crashed.io, "crawl_log", 0)
    del crashed

    resumed = CrawlEngine(spark, str(tmp_path / "c"), per_host_budget=4,
                          discover_links=True)
    assert resumed.last_round() == 0          # marker behind ⇒ replay
    resumed.run(max_rounds=3)

    assert resumed.crawl_order() == full.crawl_order()
    assert resumed.seen_set() == full.seen_set()
    assert (resumed.io.read("pages").count()
            == full.io.read("pages").count())
    got = {r.canonical_url for r in resumed.io.read("frontier").collect()}
    want = {r.canonical_url for r in full.io.read("frontier").collect()}
    assert got == want                        # discovered links survived


def test_run_round_crash_not_mistaken_for_revisit_transition(
        spark, tmp_path):
    """With revisit=True, a run_round crash in the frontier→crawl_log
    window leaves frontier@r ahead of last_round — the exact signature
    an interrupted revisit transition has. The pages@r guard must route
    this to round replay, NOT to schedule_revisits (which would stamp a
    transition marker and skip the round's replay)."""
    def mk(root):
        e = CrawlEngine(spark, str(root), per_host_budget=4,
                        revisit=True)
        e.bootstrap(_seeds(spark, 12), _robots(spark))
        return e

    full = mk(tmp_path / "full")
    full.run(max_rounds=3)

    crashed = mk(tmp_path / "c")
    crashed.run(max_rounds=3)
    _rollback_to_round(crashed.io, "crawl_log", 0)
    del crashed

    resumed = CrawlEngine(spark, str(tmp_path / "c"), per_host_budget=4,
                          revisit=True)
    resumed.run(max_rounds=3)
    # a mis-detected transition would stamp a partition_id=-1 marker row
    markers = (resumed.io.read("crawl_log")
               .filter(F.col("partition_id") == -1).count())
    assert markers == 0
    assert resumed.crawl_order() == full.crawl_order()
    assert resumed.seen_set() == full.seen_set()


def test_crash_after_round_zero_pages_commit_replays(spark, tmp_path):
    """Round 0 is a round like any other: a table at round 0 already
    carries round 0, so a crash right after round 0's pages commit
    replays from the committed pages instead of fetching and appending
    the batch a second time."""
    def mk(root):
        e = CrawlEngine(spark, str(root), per_host_budget=4)
        e.bootstrap(_seeds(spark, 12), _robots(spark))
        return e

    full = mk(tmp_path / "full")
    full.run(max_rounds=5)

    crashed = mk(tmp_path / "c")
    crashed.run_round(0)
    for t in ("url_seen", "frontier", "crawl_log"):
        _rollback_to_round(crashed.io, t, -1)   # only pages@0 survives
    crashed.run(max_rounds=5)

    assert crashed.crawl_order() == full.crawl_order()
    assert crashed.seen_set() == full.seen_set()


# ---------------------------------------------------------------------------
# retries never outlive their frontier url
# ---------------------------------------------------------------------------


def test_orphaned_retries_are_purged(spark, tmp_path):
    """A retries row whose url is no longer in the frontier (e.g. later
    dropped by the trap cap) must be purged at the next round's commit —
    otherwise run()'s idle-forward loop sees outstanding retries forever
    and burns the whole max_rounds budget on empty rounds."""
    eng = CrawlEngine(spark, str(tmp_path / "s"), per_host_budget=4,
                      retry_failed=True)
    eng.bootstrap(_seeds(spark, 8), _robots(spark))
    eng.run_round(1)
    # plant an orphan: a retries row for a url_hash not in the frontier
    orphan = spark.createDataFrame([(999999999, 1, 2)],
                                   "url_hash long, attempt int, "
                                   "due_round int")
    merged = eng.io.read("retries").unionByName(orphan)
    eng.io.overwrite(merged, "retries", 1)
    eng.run_round(2)
    frontier_hashes = {r.url_hash for r in
                       eng.io.read("frontier").collect()}
    retry_hashes = {r.url_hash for r in eng.io.read("retries").collect()}
    assert 999999999 not in retry_hashes
    assert retry_hashes <= frontier_hashes    # the invariant itself


# ---------------------------------------------------------------------------
# TableIO: torn snapshots + numeric snapshot ordering
# ---------------------------------------------------------------------------


def test_tableio_torn_snapshot_is_uncommitted_garbage(spark, tmp_path):
    io = TableIO(spark, str(tmp_path / "t"))
    df = spark.range(3).select(F.col("id"))
    io.overwrite(df, "x", 0)
    io.append_round(df, "x", 1)
    # crash mid-_commit: a torn snap file whose LATEST never advanced
    torn = os.path.join(io.root, "x", "snap-00003.json")
    with open(torn, "w") as f:
        f.write('{"snapshot": 3, "round": 2, "dirs": [')  # truncated
    assert io.latest_round("x") == 1          # reads unaffected
    assert [s["snapshot"] for s in io.snapshots("x")] == [1, 2]
    out = io.vacuum("x", keep_last=2)         # must not raise
    assert not os.path.exists(torn)           # torn file expired
    assert io.read("x").count() == 6
    assert out["expired_snapshots"] >= 1


def test_tableio_vacuum_refuses_unreadable_kept_snapshot(spark, tmp_path):
    """A snapshot vacuum would keep, at or below LATEST, that it cannot
    read is committed state, not a torn write: vacuum must raise and
    delete nothing (not expire it and rmtree the data only it names)."""
    import pytest

    io = TableIO(spark, str(tmp_path / "t"))
    io.overwrite(spark.range(3), "x", 0)
    io.overwrite(spark.range(5), "x", 1)
    td = os.path.join(io.root, "x")
    data_before = sorted(os.listdir(os.path.join(td, "data")))
    snap1 = os.path.join(td, "snap-00001.json")
    with open(snap1, "w") as f:
        f.write('{"snapshot": 1, "round": 0, "dirs": [')  # corrupted
    with pytest.raises(RuntimeError, match="unreadable"):
        io.vacuum("x", keep_last=2)
    assert os.path.exists(snap1)
    assert sorted(os.listdir(os.path.join(td, "data"))) == data_before
    assert io.read("x").count() == 5


def test_tableio_snapshot_order_is_numeric_past_5_digits(spark, tmp_path):
    io = TableIO(spark, str(tmp_path / "t"))
    df = spark.range(2)
    io.overwrite(df, "x", 0)
    td = os.path.join(io.root, "x")
    # simulate a store whose snapshot counter crossed 99999: rewrite the
    # one real snapshot under high ids (dirs stay valid)
    with open(os.path.join(td, "snap-00001.json")) as f:
        manifest = json.load(f)
    os.remove(os.path.join(td, "snap-00001.json"))
    for snap_num in (99999, 100000, 100001):
        m = dict(manifest, snapshot=snap_num, round=snap_num)
        with open(os.path.join(td, f"snap-{snap_num:05d}.json"), "w") as f:
            json.dump(m, f)
    with open(os.path.join(td, "LATEST"), "w") as f:
        f.write(f"{100001:05d}")
    snaps = [s["snapshot"] for s in io.snapshots("x")]
    assert snaps == [99999, 100000, 100001]   # numeric, not lexicographic
    io.vacuum("x", keep_last=2)
    kept = [s["snapshot"] for s in io.snapshots("x")]
    assert kept == [100000, 100001]           # newest two, NOT {99999,100001}


def test_tableio_read_takes_the_manifest_schema(spark, tmp_path):
    """A read passes the schema its snapshot manifest records: it launches
    no schema-inference job and gets the schema inference would. An
    append keeps the table's first schema, as inference does (it reads
    the first file in path order). A manifest written before the field
    existed still reads, with inference."""
    io = TableIO(spark, str(tmp_path / "t"))
    df = spark.range(4).select(
        "id", (F.col("id") * 2).cast("int").alias("v"),
        F.array(F.col("id").cast("string")).alias("a"))
    io.overwrite(df, "x", 0)
    io.append_round(df.withColumn("extra", F.lit("e")), "x", 1)
    td = os.path.join(io.root, "x")
    inferred = spark.read.parquet(
        *[os.path.join(td, d) for d in io.snapshots("x")[-1]["dirs"]]).schema
    sc = spark.sparkContext
    sc.setJobGroup("tableio-read", "tableio-read")
    try:
        got, at = io.read("x"), io.read_at("x", 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("tableio-read")
    assert got.schema == inferred and "extra" not in got.columns
    assert at.schema == spark.read.parquet(
        os.path.join(td, io.snapshots("x")[0]["dirs"][0])).schema
    rows = sorted(got.collect())
    assert len(rows) == 8

    # old-format manifests: no schema field
    for f in os.listdir(td):
        if f.startswith("snap-"):
            with open(os.path.join(td, f)) as fh:
                manifest = json.load(fh)
            del manifest["schema"]
            with open(os.path.join(td, f), "w") as fh:
                json.dump(manifest, fh)
    old = io.read("x")
    assert old.schema == inferred and sorted(old.collect()) == rows


# ---------------------------------------------------------------------------
# commit_round: the writes overlap, the snapshots publish in list order
# ---------------------------------------------------------------------------


def _record_publishes(io) -> list:
    """Wrap ``io.publish``; returns the table names in publish order."""
    order, publish = [], io.publish

    def recorded(name, *args):
        order.append(name)
        return publish(name, *args)

    io.publish = recorded
    return order


def test_commit_round_publishes_in_list_order(spark, tmp_path):
    """Entry a's build waits until entry b's write has ended, so b's data
    lands first; a is still published before b."""
    io = TableIO(spark, str(tmp_path / "t"))
    b_written, stage = threading.Event(), io.stage

    def staged(df, name, round_id):
        out = stage(df, name, round_id)
        if name == "b":
            b_written.set()
        return out

    io.stage = staged
    order = _record_publishes(io)

    def build_a():
        assert b_written.wait(timeout=300)
        return spark.range(2)

    io.commit_round(0, [("a", "append", build_a),
                        ("b", "overwrite", lambda: spark.range(3))])
    assert order == ["a", "b"]
    assert io.read("a").count() == 2 and io.read("b").count() == 3


def test_commit_round_failure_publishes_only_the_prefix(spark, tmp_path):
    """A middle entry fails: the error propagates, the entries before it
    are at their new snapshot, the ones after it at their old one, and
    vacuum reclaims the unreferenced dirs their writes left."""
    io = TableIO(spark, str(tmp_path / "t"))
    for name in ("w", "x", "y", "z"):
        io.append_round(spark.range(1), name, 0)

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        io.commit_round(1, [("w", "append", lambda: spark.range(2)),
                            ("x", "append", boom),
                            ("y", "append", lambda: spark.range(3)),
                            ("z", "overwrite", lambda: spark.range(4))])
    assert io.latest_round("w") == 1 and io.read("w").count() == 3
    for name in ("x", "y", "z"):
        assert io.latest_round(name) == 0 and io.read(name).count() == 1
    for name in ("y", "z"):
        data = os.path.join(io.root, name, "data")
        kept = io.snapshots(name)[-1]["dirs"]
        orphans = [os.path.join("data", d) for d in sorted(os.listdir(data))
                   if os.path.join("data", d) not in kept]
        assert len(orphans) == 1, name       # its write ran to the end
        assert io.vacuum(name)["removed_dirs"] == orphans
        assert sorted(os.listdir(data)) == [os.path.basename(d)
                                            for d in kept]
        assert io.read(name).count() == 1


@contextlib.contextmanager
def _failing_write(io, table: str, n_writes: int):
    """Test seam: the staged write of ``table`` raises, and only once the
    round's other ``n_writes - 1`` writes have ended. It finishes last,
    so a publish that followed completion order would publish every
    table after it."""
    ended, stage = threading.Semaphore(0), io.stage

    def staged(df, name, round_id):
        if name != table:
            out = stage(df, name, round_id)
            ended.release()
            return out
        for _ in range(n_writes - 1):
            assert ended.acquire(timeout=300)
        raise RuntimeError(f"injected failure staging {name}")

    io.stage = staged
    try:
        yield
    finally:
        del io.stage


def test_crash_at_every_staged_write_publishes_a_prefix_and_heals(
        spark, tmp_path):
    """Round 1 of a discovery + dedup_index + revisit crawl fails at its
    k-th staged write, for every k. The published tables are exactly the
    ROUND_COMMITS prefix before the failing table, and resuming lands on
    the uninterrupted run: stats, crawl order, seen set and every table
    (wall_ts excluded)."""
    from python_web_scraper_cleaner_spark.plans.crawl import ROUND_COMMITS
    from python_web_scraper_cleaner_spark.sources.pages import pages_local

    seeds = spark.createDataFrame(
        [(r["url"], i % 10, r["warc_ts"])
         for i, r in enumerate(pages_local(24))],
        "url string, priority int, discovered_ts timestamp")
    robots = spark.createDataFrame(
        [(f"host{h}.example", [], [], 0) for h in range(48)],
        "host string, disallow_prefixes array<string>, "
        "allow_prefixes array<string>, crawl_delay_ms long")
    kw = dict(per_host_budget=3, discover_links=True, dedup_index=True,
              revisit=True)

    full = CrawlEngine(spark, str(tmp_path / "full"), **kw)
    full.bootstrap(seeds, robots)
    full.run_round(0)
    shutil.copytree(tmp_path / "full", tmp_path / "base")
    full_stats = [full.run_round(1)]
    tables = [t for t, _ in ROUND_COMMITS
              if any(s["round"] == 1 for s in full.io.snapshots(t))]
    assert tables == ["pages", "sig_index", "url_seen", "fetch_history",
                      "frontier", "crawl_log"]

    def rows_of(eng, name):
        return sorted(map(repr, eng.io.read(name).drop("wall_ts").collect()))

    want = {t: rows_of(full, t) for t in tables}
    for k, failing in enumerate(tables):
        root = tmp_path / f"crash{k}"
        shutil.copytree(tmp_path / "base", root)
        eng = CrawlEngine(spark, str(root), **kw)
        with _failing_write(eng.io, failing, len(tables)):
            with pytest.raises(RuntimeError, match="injected failure"):
                eng.run_round(1)
        assert [t for t in tables if eng.io.latest_round(t) == 1] \
            == tables[:k], failing
        resumed = CrawlEngine(spark, str(root), **kw)
        assert resumed.run(max_rounds=1) == full_stats, failing
        assert resumed.crawl_order() == full.crawl_order(), failing
        assert resumed.seen_set() == full.seen_set(), failing
        for t in tables:
            assert rows_of(resumed, t) == want[t], (failing, t)
