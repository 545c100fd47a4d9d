"""CrawlJob — the production composition of every engine component.

One scheduling wave (SURVEY §3.3's Spark-native main loop):

    frontier ──robots gate──► schedule (per-host token bucket, salted
    top-K) ──► fetch (pandas-UDF / corpus join) ──► scrape (links +
    image refs) ──► image payload emit (decode/validate → payload table)
    ──► expand (canonicalize → bloom prefilter → exact seen-set probe →
    filter/score) ──► next frontier (carried + retries + discoveries)
    ──► host-state backoff update ──► snapshot commit (+ lineage row per
    partition)

How a wave runs on Spark.  The wave is a few lazy plans; its only
actions are one small collect of the bloom shards and the concurrent
table writes of ``SnapshotCatalog.commit_wave`` (frontier, host_state,
seen, bloom, results, lineage, plus the emit planes' tables).  Nothing
counts rows: every ``WaveStats`` counter comes from an ``Observation`` on
a frame the commit writes (the wave's fate counts on the results write,
discovered/dedup-hit counts on the seen write, a row count on every
write), and the commit stores them in the snapshot before the manifest
rename, so ``run()`` reads the frontier size, the host-state size and the
pages crawled so far from the manifest.

Two frames are pinned, with a lazy ``localCheckpoint`` that the first
write to reach a block computes and the others read.  The pins are
planned with adaptive execution off: under AQE every query stage is a
Spark job of its own, run at definition time (37 of a wave's 58 jobs
were), while the writes keep AQE to coalesce the small deltas:

* the fetched wave — every frontier row with its fate (fetched, carried,
  denied by robots, no matching config) — because the fetch must run
  once (in production a second evaluation is a second request) and the
  results, frontier and host-state writes all read it.  The robots and
  config gates ride through the schedule as an eligibility column, so
  their UDFs run once, below the schedule's shuffle;
* the expansion — the scrape + canonicalize Python pass, the bloom
  verdict and the seen-set probe — because the seen, bloom, frontier and
  lineage writes all read it and the Python pass must run once.

The image and PDF emit planes keep an eager pin on their payloads (their
decode passes read the payload twice).

Relationship to traversal.CrawlEngine: CrawlEngine is the *parity*
engine (exact reference ordering semantics, oracle-tested); CrawlJob is
the *scale* composition adding politeness, priority aging, robots,
retries, the image payload path, and checkpoint/resume.  The ordering
contract here is the deterministic logical queue discipline:
(wave_id, priority_bucket, score desc, depth, url) per host, spaced by
the politeness delay — the same discipline the reference's dispatcher
implements with wall-clock sleeps (async_dispatcher.py:28-85), made
reproducible.

Everything is append-only at scale: seen/bloom/images/results/lineage
grow by per-wave deltas; only frontier and host_state (both O(open
work), not O(history)) are rewritten.
"""

from __future__ import annotations

import math
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.urls import host_expr, is_valid_url_expr, normalize_deep_udf
from .operators import scrape
from .operators.dedup import (
    BLOOM_BROADCAST_MAX_BYTES,
    BLOOM_SCHEMA,
    bloom_maybe_seen,
    bloom_shards,
    bloom_version_ok,
    bloom_tag,
    build_bloom,
    merge_shard_rows,
    tag_seen,
)
from .operators.scheduler import (
    priority_bucket_expr,
    robots_gate,
    salted_range_partition,
    schedule_wave,
    update_host_state,
)
from .sources.catalog import SnapshotCatalog, lineage_from_wave

# a wave row's fate (the pinned wave frame's ``_kind``)
_FETCHED, _CARRIED, _DENIED, _UNMATCHED = "fetched", "carried", "denied", "unmatched"

FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("url_hash", T.IntegerType()),
        T.StructField("host", T.StringType()),
        T.StructField("host_hash", T.LongType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("parent_url", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("priority_bucket", T.IntegerType()),
        T.StructField("retry_count", T.IntegerType()),
        T.StructField("wait_waves", T.IntegerType()),
        T.StructField("wave_id", T.IntegerType()),
        T.StructField("status", T.StringType()),
    ]
)


@dataclass
class JobConfig:
    max_depth: int = 3
    max_pages: float = math.inf
    max_waves: int = 100
    wave_budget: float = 60.0  # politeness budget per wave (seconds)
    default_delay: float = 1.0
    max_retries: int = 3  # on 429/503 (RateLimiter semantics)
    score_expr: object | None = None  # Column -> Column on canonical url
    filter_expr: object | None = None  # Column -> Column on raw href
    include_external: bool = False
    use_bloom: bool = True
    bloom_partitions: int = 32
    bloom_bits: int = 1 << 20
    fairness_waves: int = 10
    emit_images: bool = True
    emit_pdfs: bool = False  # pdf_pages/pdf_images tables per wave
    emit_markdown: bool = False  # markdown/citations/fit_markdown table per wave
    emit_doc_dedup: bool = False  # per-wave minhash/simhash signature deltas
    dedup_n_perm: int = 16
    dedup_bands: int = 4
    dedup_shingle_n: int = 3
    markdown_fit_mode: str | None = None  # None | "pruning" | "bm25"
    markdown_query: str | None = None  # bm25 fit query
    n_partitions: int = 0  # 0 → defaultParallelism


@dataclass
class WaveStats:
    wave_id: int
    scheduled: int
    admitted: int
    fetched_ok: int
    failed: int
    discovered: int
    dedup_hits: int
    images: int
    duration_ms: int


@contextmanager
def _session_conf(spark: SparkSession, conf: dict):
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


class CrawlJob:
    def __init__(
        self,
        spark: SparkSession,
        fetch_fn,
        catalog_root: str,
        config: JobConfig | None = None,
        robots: DataFrame | None = None,
        image_store: DataFrame | None = None,
        pdf_store: DataFrame | None = None,
        run_configs: list | None = None,
    ):
        self.spark = spark
        self.fetch_fn = fetch_fn
        self.cfg = config or JobConfig()
        self.catalog = SnapshotCatalog(catalog_root, spark)
        self.robots = robots
        self.image_store = image_store  # image_id → payload (the synthetic "CDN")
        self.pdf_store = pdf_store  # pdf_id → payload (document plane CDN)
        # per-URL RunConfig selection (async_dispatcher.py:101-125); a URL
        # matching no config becomes a failed result and leaves the frontier
        self.run_configs = run_configs
        self.stats: list[WaveStats] = []

    # ------------------------------------------------------------------ API
    def seed(self, seeds: DataFrame) -> DataFrame:
        """seeds(url[, priority]) → initial frontier (wave 0 snapshot).
        Cross-source duplicate seeds collapse (async_url_seeder.py:429-459).
        The catalog root must be unused: a commit carries the previous
        snapshot's appends forward, so seeding over an old crawl would
        inherit its seen set and overwrite ``wave=N`` files its snapshots
        still reference."""
        if self.catalog.latest_snapshot() is not None:
            raise ValueError(
                f"catalog root {self.catalog.root} already holds a crawl; "
                "resume it with run() or seed a fresh root"
            )
        cfg = self.cfg
        pri = F.col("priority") if "priority" in seeds.columns else F.lit(1.0)
        base = seeds.select(
            normalize_deep_udf(F.col("url"), F.col("url")).alias("url"),
            pri.cast("double").alias("score"),
        )
        frontier = (
            base.filter(F.col("url").isNotNull() & is_valid_url_expr(F.col("url")))
            .dropDuplicates(["url"])
            .select(
                "url",
                F.hash("url").alias("url_hash"),
                host_expr(F.col("url")).alias("host"),
                F.xxhash64(host_expr(F.col("url"))).alias("host_hash"),
                F.lit(0).alias("depth"),
                F.lit(None).cast("string").alias("parent_url"),
                F.col("score"),
                F.lit(0).alias("priority_bucket"),
                F.lit(0).alias("retry_count"),
                F.lit(0).alias("wait_waves"),
                F.lit(0).alias("wave_id"),
                F.lit("QUEUED").alias("status"),
            )
        )
        seen0 = frontier.select("url")
        state = {"frontier": frontier, "host_state": self._empty_host_state()}
        appends = {"seen": seen0}
        if cfg.use_bloom:
            appends["bloom"] = build_bloom(seen0, n_partitions=cfg.bloom_partitions, m_bits=cfg.bloom_bits)
        self.catalog.commit_wave(0, state=state, appends=appends)
        return frontier

    def run(self, max_waves: int | None = None) -> dict:
        """Advance waves until the frontier drains (or limits hit).
        Restartable: always resumes from the latest snapshot.  The frontier
        size and the pages crawled so far come from the snapshots' recorded
        counts, not from a Spark job."""
        cfg = self.cfg
        max_waves = max_waves or cfg.max_waves
        pages_crawled = sum(s.get("counters", {}).get("fetched_ok", 0) for s in self.catalog.snapshots())
        waves_done = 0
        while waves_done < max_waves and pages_crawled < cfg.max_pages:
            snap = self.catalog.latest_snapshot()
            if snap is None or self._frontier_rows(snap) == 0:
                break
            stats = self._wave(snap)
            self.stats.append(stats)
            pages_crawled += stats.fetched_ok
            waves_done += 1
            if stats.scheduled == 0:
                break
        return {
            "waves": waves_done,
            "pages_crawled": pages_crawled,
            "stats": [s.__dict__ for s in self.stats],
        }

    # ------------------------------------------------------------- the wave
    def _wave(self, snap: dict) -> WaveStats:
        t0 = time.time()
        wave_id = int(snap["wave_id"]) + 1
        committed = self.catalog.commit_wave(wave_id, **self._plan(snap, wave_id))
        c = committed["counters"]
        return WaveStats(
            wave_id=wave_id,
            scheduled=c["scheduled"],
            admitted=c["admitted"],
            fetched_ok=c["fetched_ok"],
            failed=c["failed"],
            discovered=c["discovered"],
            dedup_hits=c["dedup_hits"],
            images=committed["rows"].get("images", 0),
            duration_ms=int((time.time() - t0) * 1000),
        )

    def _plan(self, snap: dict, wave_id: int) -> dict:
        """The wave's lazy plans, as ``commit_wave`` keyword arguments."""
        cfg = self.cfg
        host_state = self.catalog.read("host_state", snap)
        # size-gates the host-state broadcast (scheduler._join_host_state)
        # with the count the last commit recorded: a small state keeps the
        # explicit broadcast, a 10^7-host one falls back to an AQE join
        host_state_rows = snap.get("rows", {}).get("host_state")
        wave_start = (wave_id - 1) * cfg.wave_budget
        n_parts = cfg.n_partitions or self.spark.sparkContext.defaultParallelism

        frontier = self.catalog.read("frontier", snap).withColumn(
            "priority_bucket",
            priority_bucket_expr(F.col("retry_count"), F.col("wait_waves"), cfg.fairness_waves),
        )
        # robots gate: denials become FAILED results without a fetch.  Per-
        # URL config selection: no match ⇒ failed result (dispatcher
        # semantics, async_dispatcher.py:241-263), the row leaves the
        # frontier.  Gated rows ride through the schedule unranked, so the
        # gate's UDF runs once, below the schedule's shuffle.
        gated = robots_gate(frontier, self.robots)
        eligible = F.col("robots_allowed")
        if self.run_configs is not None:
            from .operators.config_match import assign_config

            gated = assign_config(gated, self.run_configs)
            eligible = eligible & F.col("config_name").isNotNull()
        sched = schedule_wave(
            gated.withColumn("_eligible", eligible), host_state, wave_start=wave_start,
            wave_budget=cfg.wave_budget, default_delay=cfg.default_delay,
            host_state_rows=host_state_rows, eligible_col="_eligible",
        )
        kind = (
            F.when(F.col("admitted"), F.lit(_FETCHED))
            .when(~F.col("robots_allowed"), F.lit(_DENIED))
            .when(~F.col("_eligible"), F.lit(_UNMATCHED))
            .otherwise(F.lit(_CARRIED))
        )
        sched = sched.withColumn("_kind", kind).drop(
            "admitted", "robots_allowed", "_eligible", "config_name"
        )
        fetched = self.fetch_fn(sched.filter(F.col("_kind") == _FETCHED).drop("_kind"))

        # PIN 1, the fetched wave: every row this wave decided on, tagged
        # with its _kind (fetched / carried / denied / unmatched).  The
        # fetch must run once — in production it is the network — and the
        # results, frontier and host-state writes all read this one frame.
        wave = self._pin(fetched.withColumn("_kind", F.lit(_FETCHED)).unionByName(
            sched.filter(F.col("_kind") != _FETCHED), allowMissingColumns=True
        ).coalesce(n_parts))
        kind = F.col("_kind")
        is_fetched = kind == _FETCHED
        ok = wave.filter(is_fetched & F.col("success")).drop("_kind")

        # counters ride the results write (see _results_log)
        is_rl = F.col("status_code").isin(429, 503)
        wave_counts = Observation()
        results_log = self._results_log(wave.observe(
            wave_counts,
            F.count_if(kind.isin(_FETCHED, _CARRIED)).alias("scheduled"),
            F.count_if(is_fetched).alias("admitted"),
            F.count_if(is_fetched & F.col("success")).alias("fetched_ok"),
            F.count_if(
                kind.isin(_DENIED, _UNMATCHED)
                | (is_fetched & ~F.col("success")
                   & (~is_rl | (F.col("retry_count") >= cfg.max_retries)))
            ).alias("failed"),
        ), wave_id)
        results_log = results_log.sortWithinPartitions("host", "url")  # clustered rows compress better

        # retries: requeue with retry_count+1 until max_retries (dispatcher
        # requeue semantics, async_dispatcher.py:289-317 / RateLimiter give-up)
        frontier_cols = [f.name for f in FRONTIER_SCHEMA.fields]
        retry_rows = (
            wave.filter(is_fetched & is_rl & (F.col("retry_count") < cfg.max_retries))
            .select(*frontier_cols)
            .withColumn("retry_count", F.col("retry_count") + 1)
            .withColumn("status", F.lit("QUEUED"))
        )
        carried = (
            wave.filter(kind == _CARRIED).select(*frontier_cols)
            .withColumn("wait_waves", F.col("wait_waves") + 1)
        )

        appends: dict = {}
        # image payload emit (its payload pin stays: the decode/validate
        # pass reads it twice)
        if cfg.emit_images and self.image_store is not None:
            appends["images"] = self._emit_images(ok, wave_id)
        # PDF document emit: fetched pages' .pdf links resolve against the
        # pdf store and fan out to per-page text + per-image rows — the
        # reference's NaivePDFProcessorStrategy plane
        # (processors/pdf/processor.py:25-50) landing as catalog tables
        if cfg.emit_pdfs and self.pdf_store is not None:
            appends["pdf_pages"], appends["pdf_images"] = self._emit_pdfs(ok, wave_id, snap)
        # markdown emit (reference: every CrawlResult carries .markdown —
        # markdown_generation_strategy.py:55-260; fit via content filter)
        if cfg.emit_markdown:
            appends["markdown"] = self._emit_markdown(ok, wave_id)
        # document-dedup state emit: signatures for THIS wave's pages
        # only (anti-join inside wave_deltas), landing in the same
        # snapshot commit — the training-data near-dup path grows
        # append-only with the crawl (operators/dedup_state.py)
        if cfg.emit_doc_dedup:
            appends.update(self.doc_dedup_state().wave_deltas(ok, text_col="html", id_col="url")[0])

        # frontier expansion: PIN 2 (see _expand)
        seen = self.catalog.read("seen", snap)
        bloom, bloom_reset = self._bloom(snap, seen)
        expanded = self._expand(ok, seen, bloom)
        new_rows = self._new_rows(expanded.filter(~F.col("dedup_hit")), wave_id)
        expand_counts = Observation()
        seen_delta = expanded.observe(
            expand_counts,
            F.count_if(~F.col("dedup_hit")).alias("discovered"),
            F.count_if(F.col("dedup_hit")).alias("dedup_hits"),
        ).filter(~F.col("dedup_hit")).select(F.col("canon").alias("url"))

        # host state update (politeness backoff fold)
        new_host_state = update_host_state(
            wave.filter(is_fetched).select("host", "status_code", "scheduled_offset"),
            host_state,
            wave_start=wave_start,
            base_delay=(cfg.default_delay, cfg.default_delay),
            max_retries=cfg.max_retries,  # freeze threshold = give-up threshold
        )

        # the salted (priority_bucket, host_hash) range layout is applied at
        # WRITE time — the scheduler's own windows re-shuffle by host, so
        # partitioning the input frontier first would just add a shuffle
        next_frontier = salted_range_partition(
            carried.unionByName(retry_rows).unionByName(new_rows), n_parts
        ).sortWithinPartitions("host", "url")  # clustered rows compress better

        lineage = lineage_from_wave(
            wave_id,
            self._results_log(wave, wave_id).withColumn(
                "status", F.when(F.col("success"), "OK").otherwise("FAILED")
            ),
            expanded,
        )

        appends.update({"seen": seen_delta, "results": results_log, "lineage": lineage})
        resets = {}
        if cfg.use_bloom:
            delta_bloom = build_bloom(
                new_rows.select("url"), n_partitions=cfg.bloom_partitions, m_bits=cfg.bloom_bits
            )
            if bloom_reset is not None:
                resets["bloom"] = bloom_reset.unionByName(delta_bloom)
            else:
                appends["bloom"] = delta_bloom
        return {
            "state": {"frontier": next_frontier, "host_state": new_host_state},
            "appends": appends,
            "resets": resets or None,
            "observations": [wave_counts, expand_counts],
        }

    # ------------------------------------------------------------- helpers
    def _pin(self, df: DataFrame) -> DataFrame:
        """A lazy pin, planned without adaptive execution: its stages then
        run inside the job of the first write that reads it, instead of as
        one job per query stage at definition time.  The writes keep AQE,
        which coalesces the small per-wave deltas into few files."""
        with _session_conf(self.spark, {"spark.sql.adaptive.enabled": "false"}):
            return df.localCheckpoint(eager=False)

    def _frontier_rows(self, snap: dict) -> int:
        n = snap.get("rows", {}).get("frontier")
        if n is None:  # a snapshot committed before row counts were recorded
            frontier = self.catalog.read("frontier", snap)
            n = 0 if frontier is None else frontier.limit(1).count()
        return n

    @staticmethod
    def _results_log(wave: DataFrame, wave_id: int) -> DataFrame:
        """The wave's results (lineage-grade, not the payload): fetched
        rows with their status, robots denials as 403 and config misses as
        status 0, neither fetched."""
        kind = F.col("_kind")
        fetched = kind == _FETCHED
        return wave.filter(kind != _CARRIED).select(
            "url", "host", "depth", "parent_url",
            F.when(fetched, F.col("status_code")).when(kind == _DENIED, F.lit(403))
            .otherwise(F.lit(0)).alias("status_code"),
            (fetched & F.col("success")).alias("success"),
            F.when(fetched, F.col("scheduled_offset")).otherwise(F.lit(0.0)).alias("scheduled_offset"),
            F.lit(wave_id).alias("wave_id"),
        )

    def _bloom(self, snap: dict, seen: DataFrame):
        """(the bloom for the probe, reset baseline or None).  The bloom is
        either the persisted shards merged on the driver (one collect job,
        whose rows are also the version/geometry guard), or — when the
        deltas could exceed ``BLOOM_BROADCAST_MAX_BYTES`` — the shard table
        itself, for the cogrouped shard-local test.  Shards missing, built
        by an older hash scheme or with a different geometry (resume across
        an engine upgrade / JobConfig change) would give false NEGATIVES
        that bypass the exact anti-join, so the whole bloom is rebuilt from
        the seen table and committed as a reset baseline."""
        cfg = self.cfg
        if not cfg.use_bloom:
            return None, None
        blooms = self.catalog.read("bloom", snap)
        geometry = (cfg.bloom_partitions, cfg.bloom_bits)
        deltas = len(snap["appends"].get("bloom", ()))
        if deltas * cfg.bloom_partitions * cfg.bloom_bits // 8 > BLOOM_BROADCAST_MAX_BYTES:
            if bloom_version_ok(blooms, *geometry):
                return blooms, None
            rebuilt = build_bloom(seen, n_partitions=cfg.bloom_partitions, m_bits=cfg.bloom_bits)
            return rebuilt, rebuilt
        shards = None if blooms is None else bloom_shards(blooms, *geometry)
        if shards is not None:
            return shards, None
        rows = build_bloom(seen, n_partitions=cfg.bloom_partitions, m_bits=cfg.bloom_bits).collect()
        return merge_shard_rows(rows), self.spark.createDataFrame(rows, BLOOM_SCHEMA)

    def _expand(self, ok: DataFrame, seen: DataFrame, bloom) -> DataFrame:
        """PIN 2: the wave's discovered links — scrape + canonicalize (one
        Python pass), per-wave dedup, then the seen-set probe — tagged with
        ``dedup_hit``.  Pinned: the seen, bloom, frontier and lineage writes
        all read it, and the Python pass must run once."""
        cfg = self.cfg
        ok = ok.filter(F.col("depth") + 1 <= cfg.max_depth)
        links = scrape.extract_links(ok, url_col="url", html_col="html", with_canon=True)
        meta = ok.select(F.col("url").alias("src_url"), "depth")
        disc = links.join(meta, "src_url")
        if not cfg.include_external:
            disc = disc.filter(~F.col("is_external"))
        disc = disc.filter(F.col("canon").isNotNull() & is_valid_url_expr(F.col("href")))
        if cfg.filter_expr is not None:
            disc = disc.filter(cfg.filter_expr(F.col("href")))
        if bloom is not None:
            # the bloom verdict is a function of the URL alone, so it is
            # taken before the per-wave dedup: the dedup's shuffle then
            # feeds both probe branches and the bloom pass runs once
            test = bloom_tag if isinstance(bloom, dict) else bloom_maybe_seen
            disc = test(disc, bloom, "canon", n_partitions=cfg.bloom_partitions)
        disc = disc.dropDuplicates(["canon"])
        maybe_col = None if bloom is None else "maybe_seen"
        return self._pin(tag_seen(disc, seen, url_col="canon", maybe_col=maybe_col))

    def _new_rows(self, fresh: DataFrame, wave_id: int) -> DataFrame:
        """Fresh discoveries as frontier rows."""
        cfg = self.cfg
        score = (
            cfg.score_expr(F.col("canon")) if cfg.score_expr is not None else F.lit(0.0)
        ).cast("double")
        return fresh.select(
            F.col("canon").alias("url"),
            F.hash("canon").alias("url_hash"),
            host_expr(F.col("canon")).alias("host"),
            F.xxhash64(host_expr(F.col("canon"))).alias("host_hash"),
            (F.col("depth") + 1).cast("int").alias("depth"),
            F.col("src_url").alias("parent_url"),
            score.alias("score"),
            F.lit(0).alias("priority_bucket"),
            F.lit(0).alias("retry_count"),
            F.lit(0).alias("wait_waves"),
            F.lit(wave_id).alias("wave_id"),
            F.lit("QUEUED").alias("status"),
        )

    def _emit_images(self, ok: DataFrame, wave_id: int) -> DataFrame:
        """Scrape <img> refs from fetched pages, look the payloads up in
        the image store (the synthetic CDN), land validated rows in the
        payload table with caption = alt text."""
        from .operators.multimodal import decode_and_validate

        refs = scrape.extract_image_refs(ok, url_col="url", html_col="html", score_threshold=2)
        refs = refs.withColumn(
            "image_id", F.regexp_extract(F.col("img_src"), r"/img/([A-Za-z0-9\-]+)\.", 1)
        ).filter(F.col("image_id") != "")
        payload = refs.join(self.image_store, "image_id").select(
            "image_id",
            "bytes",
            "w",
            "h",
            "fmt",
            F.col("alt").alias("caption"),
            "phash",
        ).dropDuplicates(["image_id"])
        # pin: decode_and_validate and the join below both read it
        payload = payload.localCheckpoint(eager=True)
        checks = decode_and_validate(payload)
        valid_ids = checks.filter("ok AND dims_match AND phash_matches").select("image_id")
        return payload.join(valid_ids, "image_id")

    def _emit_pdfs(self, ok: DataFrame, wave_id: int, snap: dict | None):
        """Resolve the wave's fetched ``<a href=*.pdf>`` refs against the
        pdf store and land two validated deltas: per-page text rows
        (process_pdfs — raw text, reference markdown cleanup, links,
        metadata) and per-image rows (extract_pdf_images — the X-Object
        ladder with decoded-pixel phash).  Same shape as the image plane:
        stateless mapInPandas fan-out, linear in fetched documents."""
        from .operators.pdfproc import extract_pdf_images, process_pdfs

        refs = scrape.extract_links(ok, url_col="url", html_col="html")
        refs = refs.withColumn(
            "pdf_id", F.regexp_extract(F.col("href"), r"/files/([A-Za-z0-9\-]+)\.pdf$", 1)
        ).filter(F.col("pdf_id") != "")
        payload = (
            refs.join(self.pdf_store, "pdf_id")
            .select(F.col("pdf_id").alias("doc_id"), "bytes")
            .dropDuplicates(["doc_id"])
        )
        # cross-WAVE dedup: a PDF linked from pages crawled in different
        # waves must land once — anti-join the already-emitted set, the
        # same first-writer-wins shape as the URL seen set
        prev = self.catalog.read("pdf_pages", snap)
        if prev is not None:
            emitted = prev.select(F.col("pdf_id").alias("doc_id")).distinct()
            payload = payload.join(emitted, "doc_id", "left_anti")
        # pin: the pages and images fan-outs both read it
        payload = payload.localCheckpoint(eager=True)
        pages = process_pdfs(payload).withColumnRenamed("doc_id", "pdf_id")
        images = extract_pdf_images(payload).withColumnRenamed("doc_id", "pdf_id")
        wid = F.lit(wave_id).cast("int").alias("wave_id")
        return pages.select("*", wid), images.select("*", wid)

    def _emit_markdown(self, ok: DataFrame, wave_id: int) -> DataFrame:
        from .functions.markdown import markdown_for_pages
        from .operators.content_filter import bm25_filter_content, pruning_filter_content

        cfg = self.cfg
        content_filter = None
        if cfg.markdown_fit_mode == "pruning":
            content_filter = pruning_filter_content
        elif cfg.markdown_fit_mode == "bm25":
            q = cfg.markdown_query

            def content_filter(html):  # noqa: F811
                return bm25_filter_content(html, user_query=q)

        md = markdown_for_pages(ok, content_filter=content_filter)
        return md.withColumn("wave_id", F.lit(wave_id))

    def _empty_host_state(self) -> DataFrame:
        from .operators.scheduler import HOST_STATE_SCHEMA

        return self.spark.createDataFrame([], HOST_STATE_SCHEMA)

    # ------------------------------------------------------------- queries
    def seen_urls(self) -> DataFrame:
        return self.catalog.read("seen")

    def results(self) -> DataFrame:
        return self.catalog.read("results")

    def images(self) -> DataFrame | None:
        return self.catalog.read("images")

    def markdown(self) -> DataFrame | None:
        return self.catalog.read("markdown")

    def doc_dedup_state(self):
        """The crawl's persisted document-dedup state (lazy; shares the
        job's catalog so signature deltas ride the wave commits)."""
        from .operators.dedup_state import DedupState

        if not hasattr(self, "_doc_dedup_state"):
            cfg = self.cfg
            self._doc_dedup_state = DedupState(
                self.catalog, n_perm=cfg.dedup_n_perm, bands=cfg.dedup_bands,
                shingle_n=cfg.dedup_shingle_n,
            )
        return self._doc_dedup_state

    def doc_dups(self, threshold: float = 0.5, new_ids: DataFrame | None = None) -> DataFrame:
        """Near-duplicate page pairs from the persisted signatures
        (requires emit_doc_dedup; pass ``new_ids`` for the incremental
        latest-wave check)."""
        return self.doc_dedup_state().minhash_pairs(threshold, new_ids=new_ids)

    def lineage(self) -> DataFrame:
        return self.catalog.lineage()
