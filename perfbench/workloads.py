"""The benchmark's generated crawls.

Each workload builds a *world* from a seed: the seed frontier, the fetch
function the benchmark owns, robots rules, payload stores and the
production ``JobConfig`` the crawl runs with.  The package sees only these
generated inputs.

* ``crawl_links`` — the ROADMAP baseline shape: 1000 hosts x 20 pages,
  robots on, bloom on, every emit off, a politeness budget that never
  binds.  Loads scrape + canonicalize + seen-set (expand) and the per-wave
  fixed overhead; bypasses the image/PDF/markdown codecs.
* ``crawl_media`` — 30 hosts x 13 pages (three waves) whose images, PDFs
  and markdown are all emitted.  The pure-Python codecs carry the variable
  cost; the frontier and seen set are trivial.  The only workload that
  loads ``multimodal``/``pdfproc``/``markdown``.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawl4ai_spark.functions.urls import normalize_url_for_deep_crawl
from crawl4ai_spark.operators.traversal import canonical_corpus_fetcher
from crawl4ai_spark.pipeline import JobConfig
from crawl4ai_spark.sources.corpus import generate_corpus


# a cap no crawl reaches: both worlds drain (crawl_links in 5 waves,
# crawl_media in 3), so every crawl is the whole world
CRAWL_WAVES = 10


@dataclass
class World:
    seeds: DataFrame  # url
    fetch_fn: object  # admitted frontier rows -> fetched rows (url, html, success, status_code, ...)
    world_urls: DataFrame  # url: every canonical page URL of the world
    config: JobConfig
    waves: int  # the crawl stops after this many waves if not drained
    generated: dict  # the tables and config it was loaded from (generate's result)
    robots: DataFrame | None = None
    image_store: DataFrame | None = None
    pdf_store: DataFrame | None = None


def generate(name: str, seed: int) -> dict:
    """The world's tables (pandas) and its crawl config."""
    if name == "crawl_links":
        corpus = generate_corpus(seed=seed, n_hosts=1000, pages_per_host=20, with_images=False)
        cfg = JobConfig(
            max_depth=4, wave_budget=1000.0, default_delay=1.0,
            use_bloom=True, bloom_partitions=16, bloom_bits=1 << 20, emit_images=False,
        )
    elif name == "crawl_media":
        # 13 pages = a 3-ary tree of depth 2, so max_depth=2 crawls it in
        # three waves (30, 90 and 270 pages): a wave here costs about 7 s
        # whatever its size, so few large waves keep the run short while
        # the two timed waves still carry 360 pages of codec work.  Small
        # images keep the single-threaded world generation (the pure-Python
        # encoders) a minority of the run; every codec gets images.
        corpus = generate_corpus(
            seed=seed, n_hosts=30, pages_per_host=13, img_sizes=(16, 24, 32),
            with_images=True, with_pdfs=True,
        )
        cfg = JobConfig(
            max_depth=2, wave_budget=1000.0, default_delay=1.0,
            use_bloom=True, bloom_partitions=16, bloom_bits=1 << 20,
            emit_images=True, emit_pdfs=True, emit_markdown=True,
        )
    else:
        raise ValueError(f"unknown workload {name!r}")
    return {"corpus": corpus, "config": cfg}


def load(spark: SparkSession, generated: dict) -> World:
    """The generated world as cached DataFrames of ``spark``'s session."""
    corpus = generated["corpus"]
    # the fetcher reads only these columns
    pages = spark.createDataFrame(corpus["pages"][["url", "html", "status_code"]])
    pages = pages.repartition(spark.sparkContext.defaultParallelism * 2).cache()
    pages.count()
    canon = pd.DataFrame({"url": [normalize_url_for_deep_crawl(u, u) for u in corpus["pages"]["url"]]})
    image_store = pdf_store = None
    if "images" in corpus:
        images = corpus["images"].drop(columns=["page_url", "caption"])
        image_store = spark.createDataFrame(images).cache()
    if "pdfs" in corpus:
        pdf_store = spark.createDataFrame(corpus["pdfs"][["pdf_id", "bytes"]]).cache()
    return World(
        seeds=spark.createDataFrame(corpus["seeds"][["url", "priority"]]).cache(),
        fetch_fn=canonical_corpus_fetcher(pages),
        world_urls=spark.createDataFrame(canon).cache(),
        config=generated["config"],
        waves=CRAWL_WAVES,
        generated=generated,
        robots=spark.createDataFrame(corpus["robots"]).cache(),
        image_store=image_store,
        pdf_store=pdf_store,
    )


# The hot-host frontier of the skew holdout: URL id k lives on the hot host
# when k % 10 == 0 and on host (k // 10) % SKEW_HOSTS otherwise, so 10% of
# the rows share one host.  Used by the traced run's
# scheduler.hot_over_uniform.
SKEW_HOSTS = 500
_SECTIONS = ("docs", "blog", "api", "2023", "2024", "admin")


def skew_frontier(spark, n: int, seed: int) -> DataFrame:
    """``n`` frontier rows (url, host, score, depth, priority_bucket)."""
    k = F.col("id")
    host = F.when(F.pmod(k, F.lit(10)) == 0, F.lit("hot.example.com")).otherwise(
        F.concat(F.lit("h"), F.pmod(F.floor(k / 10), F.lit(SKEW_HOSTS)).cast("string"),
                 F.lit(".example.com"))
    )
    sec = F.element_at(F.array(*[F.lit(x) for x in _SECTIONS]),
                       (F.pmod(k, F.lit(len(_SECTIONS))) + 1).cast("int"))
    return spark.range(n).select(
        F.concat(F.lit("https://"), host, F.lit("/"), sec, F.lit("/p"), k.cast("string")).alias("url"),
        host.alias("host"),
        (F.pmod(F.xxhash64(k, F.lit(seed)), F.lit(1000)) / 1000.0).alias("score"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("priority_bucket"),
    )
