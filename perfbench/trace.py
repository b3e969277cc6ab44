"""Traced mode: spans around the program's public entry points, Spark job
groups per span, and the per-layer metrics derived from spans plus
Spark's status store after the run.

Spans are recorded from outside the program by replacing module and class
attributes with wrappers (``Tracer.install``); nothing inside
``python_web_scraper_cleaner_spark`` changes. Each span is (id, name,
start, end, parent, attrs), kept in memory and written out as JSON lines
when the run ends. Self time is a span minus its children.
"""

from __future__ import annotations

import functools
import json
import os
import re
import statistics
import time
import types
from contextlib import contextmanager

MIB = 1024.0 * 1024.0

# DataFrame methods that run a Spark job from the driver
ACTIONS = ("count", "collect", "first", "take", "head", "toPandas",
           "localCheckpoint", "checkpoint")
TABLEIO_COMMITS = ("append_round", "overwrite")
TABLEIO_MANIFEST = ("exists", "latest_round", "read", "read_or_empty")
TABLEIO_METHODS = TABLEIO_COMMITS + TABLEIO_MANIFEST + (
    "read_at", "snapshots", "rollback", "vacuum")
COMMIT_TABLES = ("pages", "url_seen", "bloom", "frontier", "crawl_log",
                 "sig_index", "fetch_history", "links")
PY_NODES = ("ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas")


class NullTracer:
    """Untraced mode: same interface, records nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple] = []

    # -- spans ----------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name, "attrs": attrs,
             "parent": parent["id"] if parent else None,
             "start": time.time(), "end": None}
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"{s['id']}:{name}", name)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"{parent['id']}:{parent['name']}",
                                    parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _wrap(self, owner, attr: str, name: str, label=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            attrs = label(args, kwargs) if label else {}
            with tracer.span(name, **attrs):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap the entry points run_round reaches: CrawlEngine lifecycle,
        TableIO, the frontier/bloom/dedup operator modules (plans/crawl.py
        calls them through module attributes), with_clean_text and
        simulated_fetch as bound in plans.crawl, and driver actions on the
        classic DataFrame."""
        from pyspark.sql.classic import dataframe as classic_df

        from python_web_scraper_cleaner_spark.operators import bloom, dedup
        from python_web_scraper_cleaner_spark.operators import frontier
        from python_web_scraper_cleaner_spark.plans import crawl
        from python_web_scraper_cleaner_spark.sources import tableio

        for m in ("bootstrap", "run_round", "run", "schedule_revisits"):
            self._wrap(crawl.CrawlEngine, m, f"crawl.{m}")

        def table_label(m):
            pos = 1 if m in TABLEIO_COMMITS else 0  # (df, name, round_id)

            def label(args, kwargs):
                a = args[1:]  # drop self
                return {"table": a[pos] if len(a) > pos
                        else kwargs.get("name")}
            return label

        for m in TABLEIO_METHODS:
            self._wrap(tableio.TableIO, m, f"tableio.{m}", table_label(m))
        for mod, prefix in ((frontier, "frontier"), (bloom, "bloom"),
                            (dedup, "dedup")):
            for attr, fn in list(vars(mod).items()):
                if (isinstance(fn, types.FunctionType)
                        and not attr.startswith("_")
                        and fn.__module__ == mod.__name__):
                    self._wrap(mod, attr, f"{prefix}.{attr}")
        self._wrap(crawl, "with_clean_text", "udfs.with_clean_text")
        self._wrap(crawl, "simulated_fetch", "crawl.simulated_fetch")
        for a in ACTIONS:
            self._wrap(classic_df.DataFrame, a, f"action.{a}")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


# -- span helpers ---------------------------------------------------------------

def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: duration minus the union of its
    children's intervals."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        d = s["end"] - s["start"] - _union(kids.get(s["id"], []),
                                           s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + d
    return out


def span_summary(spans: list[dict], store: dict) -> dict:
    """Per span name: calls, total and self seconds, and the Spark jobs
    (count and busy seconds) tagged with that span's job group."""
    out: dict[str, dict] = {}
    for s in spans:
        e = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0,
                                       "self_s": 0.0, "jobs": 0,
                                       "job_s": 0.0})
        e["calls"] += 1
        e["total_s"] += s["end"] - s["start"]
    for name, v in self_times(spans).items():
        out[name]["self_s"] = v
    for j in store["jobs"]:
        name = (j["group"] or "").partition(":")[2]
        if name in out and j["end"] is not None:
            out[name]["jobs"] += 1
            out[name]["job_s"] += j["end"] - j["start"]
    return dict(sorted(out.items(), key=lambda kv: -kv[1]["self_s"]))


def _union(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _inside(s: dict, op: dict) -> bool:
    return op["start"] <= s["start"] and s["end"] <= op["end"]


# -- Spark status store ----------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1024, "MiB": MIB, "GiB": MIB * 1024,
         "TiB": MIB * MIB}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VAL = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str | None) -> float:
    """A formatted SQL metric ('2.4 MiB', '65 ms', 'total (min, med, max
    ...)\\n6.6 s (...)', '2,000') as bytes, seconds or a count."""
    if not text:
        return 0.0
    if text.startswith("total"):
        text = text.split("\n", 1)[1] if "\n" in text else ""
    m = _VAL.match(text.strip())
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _opt(o):
    return o.get() if o.isDefined() else None


def _ms(d) -> float | None:
    v = _opt(d)
    return None if v is None else v.getTime() / 1000.0


def status_store(spark) -> dict:
    """Jobs, stages and SQL executions (with Python-node and scan metrics)
    read from Spark's status stores once the run is over."""
    sc = spark.sparkContext
    gw = sc._gateway
    st = sc._jsc.sc().statusStore()
    jobs = []
    jl = st.jobsList(None)
    for i in range(jl.size()):
        j = jl.apply(i)
        sids = j.stageIds()
        jobs.append({"id": j.jobId(), "group": _opt(j.jobGroup()),
                     "start": _ms(j.submissionTime()),
                     "end": _ms(j.completionTime()),
                     "stages": [sids.apply(k) for k in range(sids.size())]})
    stages = {}
    sl = st.stageList(None, False, False, gw.new_array(gw.jvm.double, 0),
                      None)
    for i in range(sl.size()):
        s = sl.apply(i)
        stages[s.stageId()] = {"status": s.status().toString(),
                               "tasks": s.numCompleteTasks(),
                               "shuffle_write": s.shuffleWriteBytes()}
    sq = spark._jsparkSession.sharedState().statusStore()
    execs = []
    el = sq.executionsList()
    for i in range(el.size()):
        e = el.apply(i)
        eid = e.executionId()
        vals = sq.executionMetrics(eid)
        nodes = sq.planGraph(eid).allNodes()
        py, scan_bytes = [], 0.0
        for k in range(nodes.size()):
            n = nodes.apply(k)
            name = n.name()
            if name in PY_NODES:
                got = {}
                ms = n.metrics()
                for q in range(ms.size()):
                    m = ms.apply(q)
                    v = vals.get(m.accumulatorId())
                    if v.isDefined():
                        got[m.name()] = parse_metric(v.get())
                if got:  # ran in this execution (not a cached subplan)
                    py.append(got)
            elif name.startswith("Scan "):
                ms = n.metrics()
                for q in range(ms.size()):
                    m = ms.apply(q)
                    if m.name() == "size of files read":
                        scan_bytes += parse_metric(
                            _opt(vals.get(m.accumulatorId())))
        execs.append({"id": eid, "start": e.submissionTime() / 1000.0,
                      "py": py, "scan_bytes": scan_bytes})
    return {"jobs": jobs, "stages": stages, "execs": execs}


# -- per-layer metrics ------------------------------------------------------------

def layer_metrics(tracer: Tracer, store: dict, ops: list[dict], *,
                  is_crawl: bool) -> dict[str, tuple[float, str]]:
    """The span- and status-store-derived per-layer metrics, averaged per
    operation window (a crawl round, or a slice pass)."""
    n = max(len(ops), 1)
    spans = [s for s in tracer.spans if s["end"] is not None]
    in_ops = [s for s in spans if any(_inside(s, op) for op in ops)]
    by_id = {s["id"]: s for s in spans}

    def outer(s, prefix):
        p = by_id.get(s["parent"])
        return p is None or not p["name"].startswith(prefix)

    jobs = [j for j in store["jobs"] if j["start"] is not None
            and any(op["start"] <= j["start"] <= op["end"] for op in ops)]
    execs = [e for e in store["execs"]
             if any(op["start"] <= e["start"] <= op["end"] for op in ops)]
    stages = [store["stages"][sid] for j in jobs for sid in j["stages"]
              if sid in store["stages"]
              and store["stages"][sid]["status"] == "COMPLETE"]
    actions = [s for s in in_ops if s["name"].startswith("action.")
               and outer(s, "action.")]
    commits = [s for s in in_ops
               if s["name"] in [f"tableio.{m}" for m in TABLEIO_COMMITS]]
    manifest = [s for s in in_ops
                if s["name"] in [f"tableio.{m}" for m in TABLEIO_MANIFEST]
                and outer(s, "tableio.")]

    driver_only, stats_s = [], []
    for op in ops:
        busy = _union([(j["start"], j["end"] or op["end"]) for j in jobs
                       if op["start"] <= j["start"] <= op["end"]],
                      op["start"], op["end"])
        driver_only.append(op["end"] - op["start"] - busy)
        logs = [s["end"] for s in commits if _inside(s, op)
                and s["attrs"].get("table") == "crawl_log"]
        after = max(logs) if logs else op["end"]
        stats_s.append(sum(s["end"] - s["start"] for s in actions
                           if _inside(s, op) and s["start"] >= after))

    py = [p for e in execs for p in e["py"]]

    def py_sum(key, scale=1.0):
        return sum(p.get(key, 0.0) for p in py) / scale / n

    m: dict[str, tuple[float, str]] = {}
    durs = [op["end"] - op["start"] for op in ops]
    crawl = 1.0 if is_crawl else 0.0
    m["crawl.round_s"] = (crawl * statistics.median(durs) if durs else 0.0,
                          "s")
    m["crawl.spark_jobs_per_round"] = (crawl * len(jobs) / n, "count")
    m["crawl.actions_per_round"] = (crawl * len(actions) / n, "count")
    m["crawl.driver_only_s_per_round"] = (
        crawl * statistics.fmean(driver_only) if ops else 0.0, "s")
    m["crawl.stats_s_per_round"] = (
        crawl * statistics.fmean(stats_s) if ops else 0.0, "s")
    m["tableio.commits_per_round"] = (len(commits) / n, "count")
    m["tableio.commit_s_per_round"] = (
        sum(s["end"] - s["start"] for s in commits) / n, "s")
    for t in COMMIT_TABLES:
        m[f"tableio.commit_s.{t}"] = (
            sum(s["end"] - s["start"] for s in commits
                if s["attrs"].get("table") == t) / n, "s")
    m["tableio.manifest_calls_per_round"] = (len(manifest) / n, "count")
    m["udfs.python_nodes"] = (len(py) / n, "count")
    m["udfs.python_sent_mb"] = (py_sum("data sent to Python workers", MIB),
                                "MiB")
    m["udfs.python_returned_mb"] = (
        py_sum("data returned from Python workers", MIB), "MiB")
    m["udfs.python_run_s"] = (py_sum("time to run Python workers"), "s")
    m["udfs.python_boot_s"] = (py_sum("time to start Python workers"), "s")
    m["udfs.python_init_s"] = (
        py_sum("time to initialize Python workers"), "s")
    m["spark.stages_per_round"] = (len(stages) / n, "count")
    m["spark.tasks_per_round"] = (sum(s["tasks"] for s in stages) / n,
                                  "count")
    m["spark.shuffle_write_mb_per_round"] = (
        sum(s["shuffle_write"] for s in stages) / MIB / n, "MiB")
    m["pages.scan_mb"] = (sum(e["scan_bytes"] for e in execs) / MIB / n,
                          "MiB")
    return m


def kernel_metrics(pages: list[tuple[str, bytes]],
                   repeats: int = 3) -> dict[str, tuple[float, str]]:
    """Single-process kernel cost per page over the workload's own HTML
    (no Spark): the floor the Arrow UDF path is compared against. Median
    of ``repeats`` passes."""
    from python_web_scraper_cleaner_spark.functions import kernel as K

    texts = [t for t in (K.clean_html(h, output_format="txt").text
                         for _, h in pages) if t is not None]

    def per_page_us(fn, items) -> float:
        runs = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            for it in items:
                fn(it)
            runs.append((time.perf_counter() - t0) / max(len(items), 1))
        return statistics.median(runs) * 1e6

    return {
        "kernel.clean_html_us_per_page": (per_page_us(
            lambda p: K.clean_html(p[1], output_format="txt"), pages), "us"),
        "kernel.extract_links_us_per_page": (per_page_us(
            lambda p: K.extract_links(p[1], p[0]), pages), "us"),
        "kernel.lang_id_us_per_page": (per_page_us(K.lang_id, texts), "us"),
    }


def store_files(root: str) -> tuple[int, int]:
    """(files, bytes) under every table's data/ directory except the
    bootstrap commits (round -1): what the rounds wrote."""
    files = size = 0
    for table in os.listdir(root):
        data = os.path.join(root, table, "data")
        if not os.path.isdir(data):
            continue
        for d in os.listdir(data):
            if d.startswith("r-"):
                continue
            for dirpath, _, names in os.walk(os.path.join(data, d)):
                for nm in names:
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, nm))
    return files, size
