"""Crawl-engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload extract_slice --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout on local[<cores>] in this one driver
process. The last line of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric (--trace 0) or every per-layer metric
(--trace 1). Exits non-zero without a result when the program cannot be
imported or a workload raises. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback


def _process_start() -> float:
    """Wall-clock time this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_PROCESS = _process_start()

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness as H  # noqa: E402

END_TO_END = ("setup_s", "urls_per_s", "round_p50_s", "bootstrap_s",
              "store_kb_per_url")
PER_LAYER = {
    "crawl.round_s": "s", "crawl.spark_jobs_per_round": "count",
    "crawl.actions_per_round": "count",
    "crawl.driver_only_s_per_round": "s", "crawl.stats_s_per_round": "s",
    "tableio.commits_per_round": "count", "tableio.commit_s_per_round": "s",
    **{f"tableio.commit_s.{t}": "s" for t in (
        "pages", "url_seen", "bloom", "frontier", "crawl_log", "sig_index",
        "fetch_history", "links")},
    "tableio.files_per_round": "count", "tableio.bytes_per_round": "B",
    "tableio.manifest_calls_per_round": "count",
    "frontier.pending_rows": "rows", "frontier.allowed_rows": "rows",
    "frontier.batch_rows": "rows", "frontier.robots_blocked_rows": "rows",
    "frontier.select_s": "s",
    "bloom.filter_mb": "MiB", "bloom.maybe_seen_rows": "rows",
    "bloom.exact_seen_rows": "rows", "bloom.useful_ratio": "ratio",
    "udfs.python_nodes": "count", "udfs.python_sent_mb": "MiB",
    "udfs.python_returned_mb": "MiB", "udfs.python_run_s": "s",
    "udfs.python_boot_s": "s", "udfs.python_init_s": "s",
    "kernel.clean_html_us_per_page": "us",
    "kernel.extract_links_us_per_page": "us",
    "kernel.lang_id_us_per_page": "us",
    "dedup.sig_index_rows": "rows", "dedup.near_dups": "rows",
    "spark.stages_per_round": "count", "spark.tasks_per_round": "count",
    "spark.shuffle_write_mb_per_round": "MiB",
    "session.build_s": "s", "session.warm_s": "s", "pages.scan_mb": "MiB",
}
TRACE_DIR = os.path.join(H.ROOT, ".bench_traces")


def parse_args(argv=None):
    from perfbench.workloads import WORKLOADS
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run(args) -> dict:
    from perfbench import trace as TR
    from perfbench.workloads import WORKLOADS

    work = H.make_workdir()
    spark = None
    try:
        t = time.time()
        spark = H.start_session(work, traced=bool(args.trace))
        build_s = time.time() - t
        t = time.time()
        H.warm_workers(spark)
        warm_s = time.time() - t
        tracer = TR.Tracer(spark.sparkContext) if args.trace \
            else TR.NullTracer()
        tracer.install()
        try:
            res = WORKLOADS[args.workload](spark, work, args.seed,
                                           args.seconds, tracer, T_PROCESS)
        finally:
            tracer.uninstall()
        if args.trace:
            store = TR.status_store(spark)
            layers = dict(res.layers)
            layers.update(TR.layer_metrics(
                tracer, store, res.ops,
                is_crawl=args.workload != "extract_slice"))
            layers["session.build_s"] = (build_s, "s")
            layers["session.warm_s"] = (warm_s, "s")
            metrics = {k: {"value": float(layers.get(k, (0.0, u))[0]),
                           "unit": u} for k, u in PER_LAYER.items()}
            os.makedirs(TRACE_DIR, exist_ok=True)
            stem = os.path.join(TRACE_DIR, f"{args.workload}-{args.seed}")
            tracer.dump(stem + ".spans.jsonl")
            with open(stem + ".summary.json", "w") as f:
                json.dump(TR.span_summary(tracer.spans, store), f, indent=1)
        else:
            metrics = {k: {"value": float(res.metrics[k][0]),
                           "unit": res.metrics[k][1]} for k in END_TO_END}
        for e in res.errors:
            print("CHECK FAILED:", e, file=sys.stderr)
        print(json.dumps(dict(res.note, timed_s=res.timed_s)),
              file=sys.stderr)
        return {"correct": not res.errors, "attempted": int(res.attempted),
                "failed": int(res.failed), "metrics": metrics}
    finally:
        try:
            if spark is not None:
                H.stop_session(spark)
        finally:
            H.remove_workdir(work)


def main(argv=None) -> int:
    args = parse_args(argv)
    # SIGTERM unwinds like an exception, so the session and the scratch
    # directory are still cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        import python_web_scraper_cleaner_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable here: {e}",
              file=sys.stderr)
        return 2
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 - report and fail the run
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
