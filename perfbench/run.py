#!/usr/bin/env python3
"""CrawlJob benchmark: the production wave, end to end, on generated crawls.

    python3 perfbench/run.py --workload crawl_links --seed 1 --seconds 15 --trace 0

Run from the repository root.  One driver process at ``local[nproc]``
crawls a generated world (see ``workloads.py``) through the unchanged
``CrawlJob.seed()``/``run()``.  It is a closed batch: a crawl is a fixed
amount of work (a world crawled to completion); the run repeats whole
crawls, each into a fresh catalog, until ``--seconds`` of timed ``run()``
has accumulated, so throughput is reported at a stated input size, never
at an arrival rate.  See README.md for the metrics and their definitions.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes a separate
traced run and prints the per-layer table (``trace_layers.py``).  Every
crawl's output is checked (``checks.py``); the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}`` where
``attempted`` and ``failed`` count timed waves, so failed/attempted is the
wave error rate.  All files are written under ``.perfbench_work/`` in the
working directory and removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import harness

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("crawl_links", "crawl_media")  # built by workloads.generate
# a run that has used this much wall time starts no further crawl, so it
# ends well inside the 180 s a run may take
RUN_DEADLINE_S = 120.0


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Everything the JVM, Spark and the Python workers write lands under
    ``work``.  PYTHONPATH is set before the JVM starts so that the forked
    Python workers import ``crawl4ai_spark`` (and this directory's
    ``workloads``) from any working directory."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, ROOT)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{harness.driver_heap_gb()}g"


def timed_crawls(spark, world, work: str, seconds: float, t_start: float):
    """Repeat whole crawls until ``seconds`` of timed run() accumulate (at
    least one).  Returns per-crawl (Crawl, timed stats, check) records."""
    from checks import check_crawl

    done, run_total, last_s = [], 0.0, 0.0
    while not done or run_total < seconds:
        if done and time.monotonic() - t_start + last_s > RUN_DEADLINE_S:
            break
        t = time.monotonic()
        root = os.path.join(work, f"catalog{len(done)}")
        crawl = harness.Crawl(spark, world, root)
        crawl.seed_and_warm()
        stats = crawl.run()
        run_total += crawl.run_s
        harness.log(f"crawl {len(done)}: seed + first wave {crawl.setup_s:.1f}s, "
                    f"timed {crawl.run_s:.1f}s, waves {[s.duration_ms for s in crawl.job.stats]} ms")
        check = check_crawl(crawl.job, world)
        check["catalog_bytes"] = harness.dir_bytes(root)
        shutil.rmtree(root, ignore_errors=True)
        done.append((crawl, stats, check))
        last_s = time.monotonic() - t
    return done


def end_to_end(crawls, setup_s: float) -> dict:
    stats = [s for _, ss, _ in crawls for s in ss]
    run_s = sum(c.run_s for c, _, _ in crawls)
    waves_s = [s.duration_ms / 1000.0 for s in stats]
    # all waves, the warm-up one included: the figure older whole-crawl
    # measurements of the same world report
    whole = [s for c, _, _ in crawls for s in c.job.stats]
    whole_s = sum(s.duration_ms for s in whole) / 1000.0
    return {
        "whole_crawl_pages_per_s": (sum(s.fetched_ok for s in whole) / whole_s, "pages/s"),
        "pages_per_s": (sum(s.fetched_ok for s in stats) / run_s, "pages/s"),
        "frontier_urls_per_s": (sum(s.scheduled for s in stats) / run_s, "urls/s"),
        "images_per_s": (sum(s.images for s in stats) / run_s, "rows/s"),
        "wave_s_p50": (statistics.median(waves_s), "s"),
        "wave_s_max": (max(waves_s), "s"),
        "setup_s": (setup_s, "s"),
        "catalog_mb": (statistics.median(ch["catalog_bytes"] for _, _, ch in crawls) / 2**20, "MB"),
    }


def run_untraced(args, work: str, t_start: float) -> dict:
    from checks import compare_digests

    try:
        spark, world, parts = harness.setup(
            args.workload, args.seed, work, harness.cores(), ui=False)
        crawls = timed_crawls(spark, world, work, args.seconds, t_start)
    finally:
        harness.stop_gateway()
    compare_digests(crawls, args.workload, args.seed)
    # of the set-up only seed() and the warm-up wave repeat per crawl; the
    # session and the world are built once per process
    setup_s = sum(parts.values()) + statistics.median(c.setup_s for c, _, _ in crawls)
    metrics = end_to_end(crawls, setup_s)
    digests = {f"{k}_digest": v for k, v in crawls[0][2]["digests"].items()}
    return harness.result(crawls, metrics, extra={"crawls": len(crawls), **parts, **digests})


def print_result(res: dict, reported: dict[str, str], out=sys.stdout) -> None:
    """The metric table, then the JSON line with the ``reported`` metrics
    (name -> unit, from BENCHMARK.json)."""
    metrics = res["metrics"]
    rate = res["failed"] / res["attempted"]
    print(f"{'metric':<34} {'value':>14}  unit", file=out)
    for name, (value, unit) in metrics.items():
        print(f"{name:<34} {value:>14.4f}  {unit}", file=out)
    print(f"{'wave_error_rate':<34} {rate:>14.4f}  fraction ({res['failed']}/{res['attempted']} waves)",
          file=out)
    for k, v in res["extra"].items():
        print(f"# {k} = {v:.4f}" if isinstance(v, float) else f"# {k} = {v}", file=out)
    for p in res["problems"]:
        print(f"# CHECK FAILED: {p}", file=out)
    line = {
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": metrics[n][0], "unit": u} for n, u in reported.items()},
    }
    print(json.dumps(line), file=out, flush=True)


def reported_metrics(trace: int) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.monotonic()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        reported = reported_metrics(args.trace)
        prepare_environment(work)
        import crawl4ai_spark  # noqa: F401  (fail before starting anything)

        if args.trace:
            from trace_layers import run_traced

            res = run_traced(args, work, units=reported)
        else:
            res = run_untraced(args, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print_result(res, reported)
    return 0


if __name__ == "__main__":
    sys.exit(main())
