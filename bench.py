#!/usr/bin/env python
"""Benchmark harness (driver-run per round; also the local feedback loop).

Headline: one full frontier scheduling wave at scale — canonicalize
(Arrow pandas UDF) → murmur3 → bloom-prefiltered exact seen-set anti-join
→ priority bucketing → salted range partition → per-host politeness
schedule — reported as URLs/sec, plus the image payload path (PNG
decode + validate + pHash) as rows/sec, plus per-query timings of the
__spark_entry__ operator suite at $SPARK_GRAFT_SF_DIR.

Environment knobs:
  SPARK_GRAFT_SF_DIR   parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[N] parallelism (default: the CPUs this process may use)
  BENCH_FRONTIER_N     frontier size override (default 20M * sf)

Prints ONE JSON line on stdout. Run at two parallelism levels (e.g.
SPARK_GRAFT_CPUS=8 and =32) on identical input for the scaling-efficiency
evidence recorded in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def setup_frontier_wave(spark, n_urls: int, n_parts: int):
    """Build the cached frontier/seen/bloom state once, return a
    run_once() closure for the timed wave (and a teardown).  Splitting
    setup from the timed section lets main() run the wave 3× interleaved
    with the discovery wave and report the MEDIAN — the r1→r2 driver
    record whipsawed ±20% on this hypervisor-shared box from single-shot
    timing."""
    from pyspark.sql import functions as F

    from crawl4ai_spark.functions.urls import normalize_deep_udf
    from crawl4ai_spark.operators.dedup import anti_join_seen, build_bloom
    from crawl4ai_spark.operators.scheduler import (
        priority_bucket_expr,
        salted_range_partition,
        schedule_wave,
    )
    from crawl4ai_spark.sources.corpus import synth_frontier

    fr = synth_frontier(spark, n_urls).cache()
    fr.count()
    # seen-set state carried from previous waves (pre-built, cached — its
    # construction is historical state, not this wave's work)
    seen = fr.filter(F.xxhash64("url") % 3 == 0).select("url").cache()
    seen.count()
    blooms = build_bloom(seen, n_partitions=32, m_bits=1 << 22).cache()
    blooms.count()

    # physical-plan note (measured, local[32], 2M URLs): the persisted
    # shard-bloom prefilter costs ~8.5s vs ~5.2s for a plain left_anti
    # with Spark's runtime bloom join — locally the seen table is small
    # enough to join wholesale, so the headline wave uses the plain path.
    # The shard bloom is the 10^10 path (seen >> memory, joined only by
    # its dup-fraction); its timing is reported separately below.
    def run_once():
        canon = fr.withColumn("canon", normalize_deep_udf(F.col("url"), F.col("url")))
        t_bloom0 = time.time()
        anti_join_seen(
            canon, seen, url_col="canon", blooms=blooms, n_partitions=32
        ).write.format("noop").mode("overwrite").save()
        bloom_path_sec = time.time() - t_bloom0

        t0 = time.time()
        fresh = anti_join_seen(canon, seen, url_col="canon", blooms=None)
        sched_in = fresh.select(
            F.col("canon").alias("url"),
            "host",
            "score",
            "depth",
            priority_bucket_expr(F.col("retry_count"), F.lit(0), fairness_waves=10).alias(
                "priority_bucket"
            ),
        )
        sched = schedule_wave(sched_in, None, wave_start=0.0, wave_budget=120.0, default_delay=0.05)
        # frontier-table write layout (applied to the carried output,
        # exactly as CrawlJob writes its next frontier)
        sched = salted_range_partition(sched, n_parts)
        n_admitted = sched.filter("admitted").count()
        return time.time() - t0, n_admitted, bloom_path_sec

    def teardown():
        fr.unpersist()
        seen.unpersist()
        blooms.unpersist()

    return run_once, teardown


def setup_discovery_wave(spark, n_pages: int):
    """Fetch+scrape+canonicalize discovery wave — the compute-bound half
    of the crawl (HTML parsing in Arrow-batched UDFs).  This is where a
    real crawl spends its cycles at 100 TB, and it parallelizes linearly:
    the scaling-efficiency evidence (N vs 4N cores) is measured here.
    Synthetic page HTML is generated JVM-side (deterministic from the
    URL) and cached, so the timed section is scrape → canonical →
    dedup-key work only."""
    from pyspark.sql import functions as F

    from crawl4ai_spark.functions.urls import normalize_deep_udf
    from crawl4ai_spark.operators import scrape
    from crawl4ai_spark.sources.corpus import synth_frontier

    fr = synth_frontier(spark, n_pages)
    links = F.concat_ws(
        "",
        *[
            F.concat(
                F.lit(f'<a href="/sec{i}/p'),
                F.conv(F.xxhash64(F.col("url"), F.lit(i)).cast("string"), 10, 16),
                F.lit(f'" title="t{i}" class="nav-item">link number {i} here</a>'),
            )
            for i in range(8)
        ],
    )
    html = F.concat(
        F.lit("<html><head><title>page</title><meta name=\"description\" content=\"d\"></head><body>"),
        links,
        F.lit('<img src="/img/aa-11.png" alt="caption text" width="300" height="200">'),
        F.lit("</body></html>"),
    )
    n_parts = spark.sparkContext.defaultParallelism * 4
    pages = (
        fr.select("url", html.alias("html"), F.lit(True).alias("success"))
        .repartition(n_parts)
        .cache()
    )
    n = pages.count()

    def run(df):
        out = scrape.extract_links(df, "url", "html", with_canon=True)
        out.select("canon").write.format("noop").mode("overwrite").save()

    # warm-up touches EVERY partition so every python worker is forked,
    # imported, and JIT-warm before the timed pass (limit() would only
    # scan one partition and leave the rest cold)
    run(pages.filter(F.xxhash64("url") % 100 == 0))

    def run_once():
        t0 = time.time()
        run(pages)
        return time.time() - t0, n

    return run_once, pages.unpersist


def bench_images(spark, sf_dir: str, n_images: int, repeats: int = 3):
    """Image payload path: PNG decode + dim/pHash validation rows/sec.
    Median-of-N like the headline waves — the r2→r3 driver record halved
    (4,505 → 1,804 rows/s) on IDENTICAL code and an identical PNG-only
    corpus, a single-shot contention artifact this repairs."""
    import __spark_entry__ as em
    from crawl4ai_spark.operators.multimodal import decode_and_validate

    images = em._gen_images(spark, sf_dir, n=n_images).cache()
    n = images.count()  # encode (the synthetic CDN) outside the timed path
    runs, ok = [], 0
    for _ in range(repeats):
        t0 = time.time()
        ok = decode_and_validate(images).filter("ok AND dims_match AND phash_matches").count()
        runs.append(time.time() - t0)
    images.unpersist()
    return sorted(runs)[len(runs) // 2], runs, n, ok


def bench_images_per_format(spark, n_per_fmt: int = 200):
    """Per-format decode throughput over the SAME mixed-codec payload
    plane the e2e CrawlJob ingests (corpus._encode_payload) — quantifies
    how the pure-Python correctness-reference codecs split the image-row
    cost (PNG vs baseline JPEG vs VP8L vs VP8).  At 100 TB the kernel
    inside this batch swaps for libjpeg-turbo/libwebp at the single
    ``decode_rgb`` dispatch point (multimodal.py) with zero plan changes;
    these numbers are the before-swap baseline for that story."""
    import numpy as np
    import pandas as pd

    from crawl4ai_spark.operators.multimodal import IMAGE_SCHEMA, decode_and_validate

    def gen_fmt(pick: int):
        def gen(batches):
            from crawl4ai_spark.sources import corpus as C

            for pdf in batches:
                rows = []
                for k in pdf["id"]:
                    rng = np.random.default_rng(int(k))
                    rgb = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
                    # same encoder dispatch as the e2e corpus, format
                    # forced through the explicit pick parameter
                    data, fmt, _ext, ph = C._encode_payload(str(int(k)), rgb, pick=pick)
                    rows.append((str(int(k)), data, 24, 16, fmt, "c", ph))
                yield pd.DataFrame(
                    rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
                )

        return gen

    out = {}
    labels = {0: "png", 1: "jpeg", 2: "webp_lossless", 3: "webp_lossy"}
    base = spark.range(n_per_fmt).repartition(spark.sparkContext.defaultParallelism)
    from crawl4ai_spark.operators.multimodal import native_image_module

    # pure = the correctness-reference codecs (cross-round comparable
    # keys); when a native library is importable on the driver AND
    # workers (local mode: same process tree) a *_native key records the
    # after-swap throughput next to it
    engines = ["pure"] + (["native"] if native_image_module() is not None else [])
    for pick, label in labels.items():
        imgs = base.mapInPandas(gen_fmt(pick), IMAGE_SCHEMA).cache()
        n = imgs.count()  # encode outside the timed decode
        for engine in engines:
            runs = []
            for _ in range(3):
                t0 = time.time()
                n_ok = (
                    decode_and_validate(imgs, engine=engine)
                    .filter("ok AND dims_match AND phash_matches")
                    .count()
                )
                runs.append(time.time() - t0)
            dt = sorted(runs)[1]
            key = label if engine == "pure" else f"{label}_native"
            out[key] = round(n / dt, 1)
            log(f"  {key}: {n / dt:,.0f} rows/sec ({n_ok}/{n} valid, median {dt:.2f}s)")
        imgs.unpersist()
    return out


ENTRY_QUERIES = [
    "url_canonicalize",
    "frontier_seen_antijoin",
    "politeness_schedule",
    "priority_topk",
    "bm25_rank",
    "exact_dedup_groups",
    # ngram_jaccard_pairs is correctness-only: the exact posting-list join
    # is O(sum posting²) and the synthetic corpus's 30-word vocab makes
    # every shingle a stop-shingle; minhash_lsh_pairs IS its scale path
    "minhash_lsh_pairs",
    "minhash_incremental",
    "dedup_clusters",
    "corpus_clean",
    "simhash_pairs",  # recall geometry (h<=6, 8x8 bands)
    "simhash_pairs_scale",  # Manku 10^10 geometry (h<=3, 4x16 bands)
    "ann_topk",
    "embedding_near_dup",
    "jpeg_pipeline",
    "webp_pipeline",
    "webp_lossy_pipeline",
    "image_resize",
    "image_features",
    "audio_features",
    "video_frame_sample",
    "pdf_extract",
    "pdf_images",
    "quality_scores",
    "lang_id",
    # round-2 operator families
    "structured_regex",
    "json_css_items",
    "json_xpath_items",
    "markdown_citations",
    "content_filter_bm25",
    "pruning_scores",
    "config_select",
    "sitemap_expand",
    "url_relevance",
    "link_preview",
    "topic_chunking",
    # round-3 LLM-strategy data plane (deterministic fake completion fn)
    "llm_extract_blocks",
    "llm_filter_markdown",
    "llm_table_extract",
    # round-3 session-4 grafts
    "ssl_cert_extract",
    "html_preprocess",
    "schema_induction",
    "head_fingerprint",
    "page_metadata",
    "cache_validation",
    "ivf_topk",
    "markdown_options",
    "markdown_options_full",
    "markdown_options_links",
    "robots_ttl_refresh",
    "serp_extract",
    # round-5 grafts
    "amazon_extract",
    "markdown_options_tables",
    "markdown_options_google",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from crawl4ai_spark.session import box_cpus

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or box_cpus())
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.1

    # shuffle on tmpfs when available: the sandbox virtio disk's erratic
    # latency otherwise dominates shuffle-stage variance (±4x run-to-run)
    if os.path.isdir("/dev/shm") and not os.environ.get("SPARK_LOCAL_DIRS"):
        os.makedirs("/dev/shm/spark-local", exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = "/dev/shm/spark-local"

    from crawl4ai_spark.session import get_spark

    spark = get_spark(master=f"local[{cpus}]", app_name="bench", shuffle_partitions=max(cpus, 8))

    n_frontier = int(os.environ.get("BENCH_FRONTIER_N", int(40_000_000 * sf)))
    n_images = max(200, int(20_000 * sf))

    queries: dict[str, float] = {}
    t_all = time.time()

    # median-of-N interleaved headline waves: single-shot driver records
    # whipsawed ±20% run-to-run on this box (BENCH r1 vs r2); interleaving
    # decorrelates any transient hypervisor contention from one wave type
    repeats = int(os.environ.get("BENCH_REPEATS", "3"))
    n_pages = int(os.environ.get("BENCH_PAGES_N", int(6_000_000 * sf)))
    log(f"frontier wave: {n_frontier} URLs on local[{cpus}]; discovery wave: {n_pages} pages; {repeats}x interleaved")
    frontier_setup = setup_frontier_wave(spark, n_frontier, n_parts=max(cpus, 8))
    discovery_setup = setup_discovery_wave(spark, n_pages)
    runs_frontier, runs_bloom, runs_disc = [], [], []
    n_admitted = n_pages_done = 0
    for i in range(repeats):
        dt, n_admitted, bloom_sec = frontier_setup[0]()
        runs_frontier.append(round(dt, 3))
        runs_bloom.append(round(bloom_sec, 3))
        log(f"  run {i+1}: frontier {dt:.1f}s (bloom path {bloom_sec:.1f}s)")
        dt, n_pages_done = discovery_setup[0]()
        runs_disc.append(round(dt, 3))
        log(f"  run {i+1}: discovery {dt:.1f}s")
    frontier_setup[1]()
    discovery_setup[1]()
    med = lambda xs: sorted(xs)[len(xs) // 2]
    queries["frontier_wave"] = med(runs_frontier)
    queries["seen_dedup_bloom_path"] = med(runs_bloom)
    queries["discovery_wave"] = med(runs_disc)
    urls_per_sec = n_frontier / queries["frontier_wave"]
    pages_per_sec = n_pages_done / queries["discovery_wave"]
    log(f"  median frontier {queries['frontier_wave']:.1f}s → {urls_per_sec:,.0f} urls/sec ({n_admitted} admitted)")
    log(f"  median discovery {queries['discovery_wave']:.1f}s → {pages_per_sec:,.0f} pages/sec scraped+canonicalized")

    log(f"image payload: {n_images} rows (median of 3)")
    dt, img_runs, n_img, n_ok = bench_images(spark, sf_dir, n_images)
    queries["image_payload"] = round(dt, 3)
    img_rows_per_sec = n_img / dt
    log(f"  {dt:.1f}s → {img_rows_per_sec:,.0f} rows/sec ({n_ok}/{n_img} valid; runs {[round(r, 2) for r in img_runs]})")
    img_fmt = {}
    if not os.environ.get("BENCH_SKIP_QUERIES"):
        log("image decode per format (mixed-codec payload plane):")
        img_fmt = bench_images_per_format(spark)

    import __spark_entry__ as em

    qmap = em.queries()
    if os.environ.get("BENCH_SKIP_QUERIES"):
        # scaling-pair runs need only the headline waves
        ENTRY_QUERIES.clear()
    # per-query repeats: the driver's single-shot records whipsawed
    # (url_canonicalize 2.8s → 7.1s r2→r3 on identical code).  Estimator
    # — ONE rule for every query (r4 mixed min-of-2 with median-of-3,
    # which flattered the fast branch; flagged in BENCH/BASELINE.md):
    # the TRUE MEDIAN of the runs taken, where the even-count median is
    # the mean of the two middle values.  Fast concordant queries (first
    # run <2s, two runs within 30%) stop at 2 runs; slow or discordant
    # queries take a third.  query_runs records every run IN EXECUTION
    # ORDER, so warm-up vs steady-state stays visible in the artifact.
    query_runs: dict[str, list[float]] = {}
    for name in ENTRY_QUERIES:
        runs = []
        while True:
            t0 = time.time()
            # noop sink: materializes EVERY column (count() would let
            # Catalyst prune the expensive expressions right out of the
            # measurement)
            qmap[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
            if len(runs) >= 3:
                break
            if len(runs) == 2 and runs[0] < 2.0 and (
                max(runs) <= 1.3 * min(runs) or max(runs) - min(runs) < 0.3
            ):
                break  # fast and concordant: two runs suffice
        ordered = sorted(runs)
        queries[name] = round(
            ordered[1] if len(runs) == 3 else (ordered[0] + ordered[1]) / 2, 3
        )
        query_runs[name] = runs  # execution order, unsorted
        est = "median-of-3" if len(runs) == 3 else "median-of-2"
        log(f"{name}: {queries[name]:.1f}s ({est}; runs {runs})")

    total = time.time() - t_all
    # ---- output contract (VERDICT r4 item 1) --------------------------
    # The driver keeps only the LAST 2000 characters of stdout; r4's
    # single JSON line grew past that once query_runs was added, so the
    # headline metrics at the line's head were truncated away
    # (BENCH_r04.json parsed:null).  Fix: the FULL record (per-query
    # timings, raw runs, per-format decode) goes to a BENCH/ detail file;
    # stdout gets ONE compact headline line (<1500 chars) as the FINAL
    # line, carrying the metric, plane throughputs, and the headline-wave
    # timings only.
    compact = {
        # value IS the metric: frontier throughput, directly comparable
        # to the reference's 17.09 URLs/s (BASELINE.md) and across
        # rounds.  total_query_sec grows with the query count each round
        # so it is NOT a cross-round performance signal.
        "metric": "frontier URLs scheduled+deduped/sec (and fetched image rows/sec)",
        "value": round(urls_per_sec, 1),
        "unit": "urls/sec",
        "total_query_sec": round(total, 3),
        "sf": sf,
        "cpus": cpus,
        "frontier_n": n_frontier,
        "frontier_urls_per_sec": round(urls_per_sec, 1),
        "scrape_pages_per_sec": round(pages_per_sec, 1),
        "image_rows_per_sec": round(img_rows_per_sec, 1),
        "n_entry_queries": len(query_runs),
        "queries": {
            k: queries[k]
            for k in ("frontier_wave", "seen_dedup_bloom_path", "discovery_wave", "image_payload")
        },
    }
    detail = dict(compact)
    detail.update(
        {
            # pure-Python codec baseline per format; the 100-TB path
            # swaps the kernel at decode_rgb for libjpeg-turbo/libwebp
            "image_fmt_rows_per_sec": img_fmt,
            "headline_runs": {
                "frontier_wave": runs_frontier,
                "seen_dedup_bloom_path": runs_bloom,
                "discovery_wave": runs_disc,
                "image_payload": [round(r, 3) for r in img_runs],
            },
            "queries": queries,
            "query_runs": query_runs,
        }
    )
    detail_file = os.environ.get(
        "BENCH_DETAIL_FILE", f"BENCH/bench_detail_sf{sf}_local{cpus}.json"
    )
    try:
        os.makedirs(os.path.dirname(detail_file) or ".", exist_ok=True)
        with open(detail_file, "w") as fh:
            json.dump(detail, fh, indent=1)
        compact["detail_file"] = detail_file
    except OSError as e:  # read-only checkout must not kill the headline
        log(f"detail file write failed ({e}); full record kept on stderr")
        log(json.dumps(detail))
    line = json.dumps(compact)
    assert len(line) < 1500, f"headline line grew to {len(line)} chars"
    print(line, flush=True)


if __name__ == "__main__":
    main()
