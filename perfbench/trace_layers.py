"""Traced run: the per-layer table of one workload, taken from outside the
package.

1. The workload's crawl runs with the Spark UI on and a wrapper around
   ``SnapshotCatalog.commit_wave`` that times each commit and marks where
   each wave ends.  Wave-level Spark totals (jobs, executor CPU, shuffle,
   spill) come from the UI's REST API, as ``tools/shuffle_audit.py`` reads
   them.  Peak memory of the process tree is sampled from set-up to the
   crawl's last wave.
2. One representative wave (the one that fetched most pages) is replayed
   layer by layer: its inputs are read back from the catalog snapshots the
   crawl committed, the benchmark's own fetch function refetches the
   admitted rows, and each layer's public function is called on these
   inputs and materialized to a ``noop`` sink, so each time covers exactly
   that layer's Spark work.  Every layer time is one sample.
3. ``scheduler.hot_over_uniform`` is the skew holdout: ``schedule_wave``
   on a generated 10^5-row frontier with 10% of it on one hot host, over
   the same rows spread uniformly over the same number of hosts.
4. ``scaling_eff`` compares the crawl's first wave (one sample each),
   each in a new JVM right after ``seed()``: the traced crawl's own at
   ``local[nproc]`` and an untraced one in a child process at
   ``local[1]``.  Tracing adds only the UI server and the commit wrapper:
   Spark's status listener, which the REST API reads, runs in every
   session.  ``trace.pages_per_s`` beside the untraced runs'
   ``pages_per_s`` is the tracing overhead.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
import urllib.request
from datetime import datetime

import pandas as pd
from pyspark.sql import functions as F

import harness
from checks import check_crawl, compare_digests

# rows of the generated hot-host frontier behind scheduler.hot_over_uniform
HOT_FRONTIER_ROWS = 100_000
# the local[1] child must end well inside the 180 s a run may take
CHILD_TIMEOUT_S = 90

def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


class WaveClock:
    """commit_wave wrapper: each snapshot committed, per-wave commit time
    and the wall time at which each wave ended (the commit is a wave's
    last step)."""

    def __init__(self):
        self.snapshots: dict[int, dict] = {}
        self.commit_s: list[float] = []
        self.wave_end: list[float] = []

    def install(self, catalog) -> None:
        inner = catalog.commit_wave

        def commit_wave(wave_id, *a, **kw):
            t = time.perf_counter()
            snap = inner(wave_id, *a, **kw)
            self.snapshots[wave_id] = snap
            if wave_id > 0:  # snapshot 0 is seed(), not a wave
                self.commit_s.append(time.perf_counter() - t)
                self.wave_end.append(time.time())
            return snap

        catalog.commit_wave = commit_wave


class Rest:
    """The few monitoring-API reads the trace needs."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def jobs(self):
        return self.get("jobs")

    def stages(self):
        return {s["stageId"]: s for s in self.get("stages")}

    def task_skew(self, job_group: str) -> float:
        """Worst max/median task duration over the stages of a job group."""
        stage_ids = {sid for j in self.jobs() if j.get("jobGroup") == job_group for sid in j["stageIds"]}
        worst = 1.0
        for s in self.get("stages"):
            if s["stageId"] not in stage_ids or s["numTasks"] < 2 or s["status"] != "COMPLETE":
                continue
            tasks = self.get(f"stages/{s['stageId']}/{s['attemptId']}/taskList?length=100000")
            d = [t["duration"] for t in tasks if t.get("duration") is not None]
            if len(d) >= 2 and statistics.median(d) > 0:
                worst = max(worst, max(d) / statistics.median(d))
        return worst


def _ts(s: str) -> float:
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def wave_spark_totals(rest: Rest, wave_start: float, wave_ends: list[float]) -> list[dict]:
    """Jobs, executor CPU, shuffle write, spill and the driver gap (wave
    wall with no Spark job running) for each wave window."""
    jobs = [j for j in rest.jobs() if j.get("submissionTime") and j.get("completionTime")]
    stages = rest.stages()
    out, lo = [], wave_start
    for hi in wave_ends:
        mine = [j for j in jobs if lo <= _ts(j["submissionTime"]) < hi]
        spans = sorted((_ts(j["submissionTime"]), min(_ts(j["completionTime"]), hi)) for j in mine)
        busy, cur_a, cur_b = 0.0, None, None
        for a, b in spans:
            if cur_b is None or a > cur_b:
                busy += 0.0 if cur_b is None else cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        busy += 0.0 if cur_b is None else cur_b - cur_a
        st = [stages[s] for j in mine for s in j["stageIds"] if s in stages]
        out.append({
            "jobs": len(mine),
            "driver_gap_s": (hi - lo) - busy,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in st) / 2**20,
            "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in st) / 2**20,
        })
        lo = hi
    return out


def layer_table(spark, world, job, stats, snapshots: dict, rest: Rest, seed: int) -> dict:
    """Replay the wave that fetched most pages, one layer at a time."""
    from crawl4ai_spark.functions.markdown import markdown_for_pages
    from crawl4ai_spark.functions.urls import is_valid_url_expr, normalize_deep_udf
    from crawl4ai_spark.operators import scrape
    from crawl4ai_spark.operators.dedup import anti_join_seen, bloom_maybe_seen, build_bloom
    from crawl4ai_spark.operators.scheduler import (
        priority_bucket_expr,
        robots_gate,
        salted_range_partition,
        schedule_wave,
        update_host_state,
    )

    cfg, cat, sc = world.config, job.catalog, spark.sparkContext
    wave = max(stats, key=lambda s: s.fetched_ok)
    k = wave.wave_id
    prev, snap = snapshots[k - 1], snapshots[k]
    wave_start = (k - 1) * cfg.wave_budget
    n_parts = cfg.n_partitions or sc.defaultParallelism
    m: dict[str, float] = {}

    def pin(df):
        return df.localCheckpoint(eager=True)

    # -- operators.scheduler ---------------------------------------------
    frontier = cat.read("frontier", prev).withColumn(
        "priority_bucket",
        priority_bucket_expr(F.col("retry_count"), F.col("wait_waves"), cfg.fairness_waves),
    )
    frontier = pin(frontier)
    host_state = cat.read("host_state", prev)
    hs_rows = host_state.count()
    m["scheduler.rows_in"] = frontier.count()
    m["scheduler.robots_gate_s"] = timed(lambda: noop(robots_gate(frontier, world.robots)))
    gated = pin(robots_gate(frontier, world.robots))
    allowed = gated.filter(F.col("robots_allowed")).drop("robots_allowed")

    def sched(df, hs=host_state, rows=hs_rows):
        return schedule_wave(df, hs, wave_start=wave_start, wave_budget=cfg.wave_budget,
                             default_delay=cfg.default_delay, host_state_rows=rows)

    sc.setJobGroup("layer.schedule", "schedule_wave")
    m["scheduler.schedule_s"] = timed(lambda: noop(sched(allowed)))
    sc.setJobGroup("layer.other", "layers")
    m["scheduler.task_skew"] = rest.task_skew("layer.schedule")
    scheduled = pin(sched(allowed))
    admitted = scheduled.filter("admitted").drop("admitted")
    m["scheduler.admit_ratio"] = wave.admitted / max(wave.scheduled, 1)
    harness.log("scheduler layer timed")
    m["scheduler.hot_over_uniform"] = hot_over_uniform(spark, seed, sched)
    harness.log("hot-host schedule timed")

    # -- fetch ---------------------------------------------------------------
    m["fetch.s"] = timed(lambda: noop(world.fetch_fn(admitted)))
    fetched = pin(world.fetch_fn(admitted))
    ok = fetched.filter("success")
    m["fetch.ok_ratio"] = wave.fetched_ok / max(wave.admitted, 1)
    m["scheduler.host_state_s"] = timed(lambda: noop(update_host_state(
        fetched.select("host", "status_code", "scheduled_offset"), host_state,
        wave_start=wave_start, base_delay=(cfg.default_delay, cfg.default_delay),
        max_retries=cfg.max_retries, host_state_rows=hs_rows,
    )))
    next_frontier = cat.read("frontier", snap)
    m["scheduler.partition_s"] = timed(lambda: noop(salted_range_partition(next_frontier, n_parts)))

    # -- operators.scrape + functions.urls ---------------------------------
    expand_in = ok.filter(F.col("depth") + 1 <= cfg.max_depth)
    m["scrape.extract_links_s"] = timed(lambda: noop(
        scrape.extract_links(expand_in, url_col="url", html_col="html", with_canon=True)))
    links = pin(scrape.extract_links(expand_in, url_col="url", html_col="html", with_canon=True))
    m["scrape.link_rows"] = links.count()
    pairs = links.select("href", "src_url")
    m["urls.canonicalize_s"] = timed(lambda: noop(
        pairs.select(normalize_deep_udf(F.col("href"), F.col("src_url")).alias("canon"))))
    m["urls.distinct_ratio"] = pairs.distinct().count() / max(m["scrape.link_rows"], 1)
    harness.log("fetch and scrape layers timed")

    # -- operators.dedup (seen set) ----------------------------------------
    disc = links.join(expand_in.select(F.col("url").alias("src_url"), "depth"), "src_url")
    if not cfg.include_external:
        disc = disc.filter(~F.col("is_external"))
    disc = pin(disc.filter(F.col("canon").isNotNull() & is_valid_url_expr(F.col("href")))
               .dropDuplicates(["canon"]))
    seen, blooms = cat.read("seen", prev), cat.read("bloom", prev)
    m["dedup.probes"] = disc.count()
    m["dedup.seen_rows"] = seen.count()

    def probe():
        return anti_join_seen(disc, seen, url_col="canon", blooms=blooms,
                              n_partitions=cfg.bloom_partitions)

    m["dedup.probe_s"] = timed(lambda: noop(probe()))
    m["dedup.fresh_ratio"] = probe().count() / max(m["dedup.probes"], 1)
    maybe = pin(bloom_maybe_seen(disc, blooms, url_col="canon", n_partitions=cfg.bloom_partitions)
                .filter("maybe_seen"))
    n_maybe = maybe.count()
    seen_keys = seen.select(F.col("url").alias("canon")).distinct()
    m["dedup.bloom_fp_ratio"] = maybe.join(seen_keys, "canon", "left_anti").count() / max(n_maybe, 1)
    seen_delta = spark.read.parquet(snap["appends"]["seen"][-1])
    m["dedup.insert_s"] = timed(lambda: noop(build_bloom(
        seen_delta, n_partitions=cfg.bloom_partitions, m_bits=cfg.bloom_bits)))

    harness.log("seen-set layer timed")
    # -- operators.multimodal / pdfproc / functions.markdown ----------------
    # a workload that does not emit a plane gives it no input: the call then
    # runs on an empty frame, so its time is the layer's fixed cost
    m.update(image_layer(spark, ok if cfg.emit_images else ok.limit(0), world.image_store))
    m.update(pdf_layer(spark, ok if cfg.emit_pdfs else ok.limit(0), world.pdf_store))
    md_in = ok if cfg.emit_markdown else ok.limit(0)
    m["markdown.s"] = timed(lambda: noop(markdown_for_pages(md_in)))
    m["markdown.pages"] = md_in.count()

    # -- sources.catalog -----------------------------------------------------
    m["catalog.read_seen_s"] = timed(lambda: noop(cat.read("seen", snap)))
    m["catalog.manifest_kb"] = os.path.getsize(os.path.join(cat.root, "manifest.json")) / 1024
    m["catalog.seen_files"] = sum(
        len([f for f in os.listdir(p) if f.endswith(".parquet")]) for p in snap["appends"]["seen"]
    )
    written = [p for p in list(snap["tables"].values()) + [v[-1] for v in snap["appends"].values()]
               if p.endswith((f"snap={k}", f"wave={k}", f"reset={k}"))]
    m["catalog.write_mb"] = sum(harness.dir_bytes(p) for p in written) / 2**20
    return m


def image_layer(spark, ok, image_store) -> dict:
    from crawl4ai_spark.operators import scrape
    from crawl4ai_spark.operators.multimodal import decode_and_validate

    m = {}
    if image_store is None:
        payload = spark.createDataFrame(
            [], "image_id string, bytes binary, w int, h int, fmt string, phash long")
    else:
        refs = scrape.extract_image_refs(ok, url_col="url", html_col="html", score_threshold=2)
        refs = refs.withColumn(
            "image_id", F.regexp_extract(F.col("img_src"), r"/img/([A-Za-z0-9\-]+)\.", 1)
        ).filter(F.col("image_id") != "")
        payload = refs.join(image_store, "image_id").select(
            "image_id", "bytes", "w", "h", "fmt", "phash").dropDuplicates(["image_id"])
    # webp is split by its first chunk: VP8L = lossless, VP8 = lossy
    kind = F.when(F.col("fmt") != "webp", F.col("fmt")).when(
        F.substring(F.col("bytes"), 13, 4) == F.lit(b"VP8L"), "webp_lossless"
    ).otherwise("webp_lossy")
    payload = payload.withColumn("kind", kind).localCheckpoint(eager=True)
    m["multimodal.rows"] = payload.count()
    m["multimodal.decode_s"] = timed(lambda: noop(decode_and_validate(payload)))
    valid = decode_and_validate(payload).filter("ok AND dims_match AND phash_matches").count()
    m["multimodal.valid_ratio"] = valid / max(m["multimodal.rows"], 1)
    for fmt in ("png", "jpeg", "webp_lossless", "webp_lossy"):
        part = payload.filter(F.col("kind") == fmt).localCheckpoint(eager=True)
        n = part.count()
        secs = timed(lambda: noop(decode_and_validate(part)))
        m[f"multimodal.rows_per_s.{fmt}"] = n / secs
    return m


def pdf_layer(spark, ok, pdf_store) -> dict:
    from crawl4ai_spark.operators import scrape
    from crawl4ai_spark.operators.pdfproc import extract_pdf_images, process_pdfs

    if pdf_store is None:
        payload = spark.createDataFrame([], "doc_id string, bytes binary")
    else:
        refs = scrape.extract_links(ok, url_col="url", html_col="html").withColumn(
            "pdf_id", F.regexp_extract(F.col("href"), r"/files/([A-Za-z0-9\-]+)\.pdf$", 1)
        ).filter(F.col("pdf_id") != "")
        payload = refs.join(pdf_store, "pdf_id").select(
            F.col("pdf_id").alias("doc_id"), "bytes").dropDuplicates(["doc_id"])
    payload = payload.localCheckpoint(eager=True)
    return {
        "pdfproc.docs": payload.count(),
        "pdfproc.pages_s": timed(lambda: noop(process_pdfs(payload))),
        "pdfproc.images_s": timed(lambda: noop(extract_pdf_images(payload))),
    }


def hot_over_uniform(spark, seed: int, sched) -> float:
    """schedule_wave time on the skew holdout's frontier (10% of its rows
    on one hot host) over the same rows spread uniformly over the same
    number of hosts; two alternating pairs, median of each side."""
    from workloads import SKEW_HOSTS, skew_frontier

    hot = skew_frontier(spark, HOT_FRONTIER_ROWS, seed).localCheckpoint(eager=True)
    uniform = hot.withColumn(
        "host", F.concat(F.lit("u"), F.pmod(F.xxhash64("url"), F.lit(SKEW_HOSTS + 1)).cast("string"))
    ).localCheckpoint(eager=True)
    hot_s, uni_s = [], []
    for _ in range(2):
        hot_s.append(timed(lambda: noop(sched(hot, None, None))))
        uni_s.append(timed(lambda: noop(sched(uniform, None, None))))
    return statistics.median(hot_s) / statistics.median(uni_s)


def first_wave_s(world, work: str, n_cores: int) -> float:
    """Duration of the crawl's first wave in a fresh untraced process at
    ``local[n_cores]``: the state the traced crawl's first wave starts
    from, a new JVM right after ``seed()``.  The first wave is used, not a
    warm one, because a child that also ran a warm-up wave would push the
    traced run towards its time limit.  (A second SparkContext in this
    process would not do: PySpark's cached module-level UDFs keep reporting
    to the first context's accumulator.)  The child loads this world's
    generated tables instead of generating them again."""
    tables = os.path.join(work, "world.pkl")
    pd.to_pickle(world.generated, tables)
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), tables, work, str(n_cores)],
        stdout=subprocess.PIPE, text=True, timeout=CHILD_TIMEOUT_S, check=True,
    )
    return float(out.stdout.strip().splitlines()[-1])


def run_traced(args, work: str, units: dict[str, str]) -> dict:
    """The per-layer metrics named in ``units`` (name -> unit)."""
    n = harness.cores()
    clock = WaveClock()
    try:
        with harness.MemorySampler() as memory:
            spark, world, parts = harness.setup(args.workload, args.seed, work, n, ui=True)
            rest = Rest(spark.sparkContext)
            crawl = harness.Crawl(spark, world, os.path.join(work, "traced"))
            clock.install(crawl.job.catalog)
            crawl.seed_and_warm()
            t0 = time.time()
            stats = crawl.run()
        clock.wave_end = clock.wave_end[1:]  # the warm-up wave is not traced
        crawls = [(crawl, stats, check_crawl(crawl.job, world))]
        compare_digests(crawls, args.workload, args.seed)
        per_wave = wave_spark_totals(rest, t0, clock.wave_end)
        m = {
            "trace.pages_per_s": sum(s.fetched_ok for s in stats) / crawl.run_s,
            "pipeline.spark_jobs_per_wave": statistics.median(w["jobs"] for w in per_wave),
            "pipeline.driver_gap_s": statistics.median(w["driver_gap_s"] for w in per_wave),
            "pipeline.executor_cpu_s": statistics.median(w["executor_cpu_s"] for w in per_wave),
            "pipeline.shuffle_write_mb": statistics.median(w["shuffle_write_mb"] for w in per_wave),
            "pipeline.spill_mb": max(w["spill_mb"] for w in per_wave),
            "pipeline.peak_rss_mb": memory.peak_bytes / 2**20,
            "catalog.commit_s": statistics.median(clock.commit_s),
        }
        harness.log("traced crawl done")
        m.update(layer_table(spark, world, crawl.job, stats, clock.snapshots, rest, args.seed))
        harness.log("layer replay done")
    finally:
        harness.stop_gateway()
    # the traced crawl's own first wave is the local[nproc] side: tracing
    # adds only the UI server and the commit wrapper to it
    m["scaling_eff"] = first_wave_s(world, work, 1) / (
        n * crawl.job.stats[0].duration_ms / 1000.0)
    harness.log("local[1] first wave done")
    metrics = {k: (m[k], unit) for k, unit in units.items()}
    return harness.result(crawls, metrics, extra={"cores": n, **parts, "setup_crawl_s": crawl.setup_s})


def _first_wave_child(argv: list[str]) -> None:
    """first_wave_s's child: <pickled world tables> <work dir> <cores>.
    The environment (PYTHONPATH, TMPDIR, heap size) comes from the parent."""
    import workloads

    tables, work, n_cores = argv[0], argv[1], int(argv[2])
    spark = harness.start_spark(work, n_cores)
    try:
        world = workloads.load(spark, pd.read_pickle(tables))
        crawl = harness.Crawl(spark, world, os.path.join(work, f"first-wave-{n_cores}"))
        crawl.seed_and_warm()
        print(crawl.job.stats[0].duration_ms / 1000.0)
    finally:
        harness.stop_gateway()


if __name__ == "__main__":
    _first_wave_child(sys.argv[1:])
