"""Pieces shared by the untraced and the traced run: the box-sized Spark
session, the memory sampler, and one crawl of a generated world."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

# one sample of the process tree's PSS costs about 35 ms of CPU on a
# 4-vCPU machine; once a second keeps that under 1% of the box
MEMORY_SAMPLE_PERIOD_S = 1.0


_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def driver_heap_gb() -> int:
    """A quarter of RAM, at most 8 GB: the rest stays for the Python
    workers, the page cache and anyone else on the box (local mode runs
    every executor inside the driver JVM)."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1, min(8, kb // 4 // (1 << 20)))


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, n_cores: int, ui: bool = False):
    from crawl4ai_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Xlog:disable -Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }
    if ui:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    return get_spark(master=f"local[{n_cores}]", app_name="perfbench", extra_conf=conf)


def stop_gateway() -> None:
    """Stop the active context, then the gateway JVM, and wait for it to
    exit (the JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class MemorySampler:
    """Peak memory of this process and all its descendants (the gateway
    JVM and its forked Python workers), read from /proc.  Each process
    counts its proportional set size, so pages the forked workers share
    with their daemon are counted once."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(root))
            self._stop.wait(MEMORY_SAMPLE_PERIOD_S)


def tree_pss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration):
            continue  # exited while sampling
    return total


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class Crawl:
    """One closed-batch crawl of a world into a fresh catalog.  Its first
    wave is the warm-up: it runs untimed and counts as set-up, so Python
    workers are forked and code is generated before timing (a first wave
    runs 20-30% slower than later ones)."""

    def __init__(self, spark, world, catalog_root: str):
        from crawl4ai_spark.pipeline import CrawlJob

        self.world = world
        self.job = CrawlJob(
            spark, world.fetch_fn, catalog_root=catalog_root, config=world.config,
            robots=world.robots, image_store=world.image_store, pdf_store=world.pdf_store,
        )
        self.setup_s = self.run_s = 0.0

    def seed_and_warm(self) -> None:
        t = time.perf_counter()
        self.job.seed(self.world.seeds)
        self.job.run(max_waves=1)
        self.setup_s = time.perf_counter() - t

    def run(self) -> list:
        """The timed waves: every wave after the first."""
        t = time.perf_counter()
        self.job.run(max_waves=self.world.waves - 1)
        self.run_s = time.perf_counter() - t
        return self.job.stats[1:]


def setup(workload: str, seed: int, work: str, n_cores: int, ui: bool):
    """Session start + world generation and load.  Returns the session,
    the loaded world and the seconds each phase took."""
    import workloads

    t = time.perf_counter()
    # the world generator is single-threaded Python and the JVM boots in
    # its own process, so the two overlap
    with ThreadPoolExecutor(max_workers=1) as pool:
        generated = pool.submit(workloads.generate, workload, seed)
        spark = start_spark(work, n_cores, ui=ui)
        generated = generated.result()
    start_s = time.perf_counter() - t
    t = time.perf_counter()
    world = workloads.load(spark, generated)
    load_s = time.perf_counter() - t
    log(f"session start + world generation {start_s:.1f}s, world load {load_s:.1f}s")
    return spark, world, {"start_s": start_s, "load_s": load_s}


def result(crawls, metrics: dict, extra: dict) -> dict:
    """``crawls`` are (Crawl, timed stats, check) records; a crawl that
    failed its check counts all its timed waves as failed."""
    attempted = sum(max(len(ss), 1) for _, ss, _ in crawls)
    failed = sum(max(len(ss), 1) for _, ss, ch in crawls if not ch["ok"])
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "problems": [p for _, _, ch in crawls for p in ch["problems"]],
        "extra": extra,
    }
