"""End-to-end CrawlJob: seeds → waves → payload table, with robots,
politeness, dedup lineage, and snapshot resume."""

import pytest
from pyspark.sql import functions as F

from crawl4ai_spark.operators.multimodal import IMAGE_SCHEMA, psnr_against
from crawl4ai_spark.operators.traversal import canonical_corpus_fetcher
from crawl4ai_spark.pipeline import CrawlJob, JobConfig
from crawl4ai_spark.sources.corpus import generate_corpus, host_name, page_url


@pytest.fixture(scope="module")
def world(spark):
    corpus = generate_corpus(seed=42, n_hosts=5, pages_per_host=12, images_per_page=1)
    return {
        "pages": spark.createDataFrame(corpus["pages"]),
        "seeds": spark.createDataFrame(corpus["seeds"]),
        "robots": spark.createDataFrame(corpus["robots"]),
        "images": spark.createDataFrame(
            corpus["images"][["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]],
            schema=IMAGE_SCHEMA,
        ),
        "images_pdf": corpus["images"],
    }


def make_job(spark, world, root, **cfg_kw):
    cfg = JobConfig(
        max_depth=cfg_kw.pop("max_depth", 3),
        wave_budget=100.0,
        default_delay=1.0,
        use_bloom=cfg_kw.pop("use_bloom", True),
        bloom_partitions=8,
        bloom_bits=1 << 16,
        **cfg_kw,
    )
    return CrawlJob(
        spark,
        canonical_corpus_fetcher(world["pages"]),
        catalog_root=root,
        config=cfg,
        robots=world["robots"],
        image_store=world["images"],
    )


@pytest.fixture(scope="module")
def finished(spark, world, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("crawl"))
    job = make_job(spark, world, root)
    job.seed(world["seeds"])
    summary = job.run(max_waves=12)
    return job, summary


def test_job_crawls_and_respects_robots(finished):
    job, summary = finished
    assert summary["pages_crawled"] > 10
    res = job.results()
    ok_urls = {r["url"] for r in res.filter("success").collect()}
    # disallow-all host (host4): only its seed appears, as a 403 failure
    denied = res.filter(~F.col("success") & (F.col("status_code") == 403))
    denied_hosts = {r["host"] for r in denied.collect()}
    assert host_name(4) in denied_hosts
    assert not any(host_name(4) in u for u in ok_urls)
    # /admin/ disallowed on host1 (h%5==1)
    assert not any("/admin/" in u and host_name(1) in u for u in ok_urls)
    # but /admin/ pages crawled on unrestricted hosts
    assert any("/admin/" in u for u in ok_urls)


def test_job_seen_set_no_refetch(finished):
    job, _ = finished
    res = job.results().filter("success").collect()
    urls = [r["url"] for r in res]
    assert len(urls) == len(set(urls))  # every page fetched at most once
    seen = {r["url"] for r in job.seen_urls().collect()}
    assert set(urls) <= seen


def test_job_politeness_spacing(finished):
    job, _ = finished
    res = job.results().filter("success").collect()
    by_host_wave = {}
    for r in res:
        by_host_wave.setdefault((r["host"], r["wave_id"]), []).append(r["scheduled_offset"])
    for (host, wave), offsets in by_host_wave.items():
        offsets.sort()
        for a, b in zip(offsets, offsets[1:]):
            assert b - a >= 0.75 - 1e-9, f"{host} wave {wave}: {offsets}"


def test_job_images_payload_invariant(spark, finished, world):
    job, _ = finished
    images = job.images()
    assert images is not None and images.count() > 0
    # caption equality + PSNR vs the ground-truth store
    chk = psnr_against(images, world["images"])
    rows = chk.collect()
    assert all(r["caption_equal"] for r in rows)
    assert all(r["psnr_db"] == float("inf") for r in rows)  # png lossless
    # only images of successfully crawled pages landed
    from crawl4ai_spark.functions.urls import normalize_url_for_deep_crawl

    crawled = {r["url"] for r in job.results().filter("success").collect()}
    pages_of = dict(zip(world["images_pdf"]["image_id"], world["images_pdf"]["page_url"]))
    for r in images.select("image_id").collect():
        page = pages_of[r["image_id"]]
        assert normalize_url_for_deep_crawl(page, page) in crawled


def test_job_lineage(finished):
    job, summary = finished
    lin = job.lineage()
    assert lin.count() > 0
    agg = lin.agg(
        F.sum("urls_in").alias("in"), F.sum("dedup_hits").alias("dh"), F.sum("urls_out").alias("out")
    ).collect()[0]
    assert agg["in"] >= summary["pages_crawled"]
    # corpus contains duplicate hrefs by construction → dedup hits observed
    assert agg["dh"] > 0
    # the per-partition counters add up to the wave counters
    assert agg["out"] == sum(s.discovered for s in job.stats)
    assert agg["dh"] == sum(s.dedup_hits for s in job.stats)


def test_seed_refuses_used_catalog_root(spark, world, finished):
    """A commit carries the previous snapshot's appends forward, so a
    second seed() into a used root would inherit its seen set."""
    job, _ = finished
    with pytest.raises(ValueError, match="already holds a crawl"):
        make_job(spark, world, job.catalog.root).seed(world["seeds"])


def _flaky_fetcher(spark, corpus, counter=None):
    """Corpus fetch with deterministic flakiness keyed on the page index:
    i%5==2 → always 503 (gives up), i%3==1 → one 429 then the page.  With
    ``counter`` every input row of the fetch is counted by a Python
    mapInPandas, i.e. once per evaluation of the fetch."""
    from crawl4ai_spark.functions.urls import normalize_deep_udf

    pages = spark.createDataFrame(corpus["pages"])
    src = pages.select(
        normalize_deep_udf(F.col("url"), F.col("url")).alias("_p"), "html",
        F.col("status_code").alias("_sc"),
    ).dropDuplicates(["_p"]).cache()

    def fetch(wave):
        if counter is not None:
            def count(batches):
                for pdf in batches:
                    counter.add(len(pdf))
                    yield pdf

            wave = wave.mapInPandas(count, wave.schema)
        j = wave.join(src, wave["url"] == src["_p"], "left")
        ix = F.regexp_extract(F.col("url"), r"/p(\d+)$", 1)
        i = F.when(ix == "", F.lit(0)).otherwise(ix.cast("int"))
        status = (
            F.when(F.col("_p").isNull(), F.lit(404))
            .when(i % 5 == 2, F.lit(503))
            .when((i % 3 == 1) & (F.col("retry_count") < 1), F.lit(429))
            .otherwise(F.col("_sc"))
        )
        return j.withColumn("status_code", status).withColumn(
            "success", F.col("_p").isNotNull() & (F.col("status_code") == 200)
        ).drop("_p", "_sc")

    return fetch


@pytest.fixture(scope="module")
def retry_job(spark, tmp_path_factory):
    """3 waves over a world with robots denials, 429/503 retries and a
    tight politeness budget (carried rows), the fetch counted per row."""
    corpus = generate_corpus(seed=42, n_hosts=5, pages_per_host=8, with_images=False)
    fetched_rows = spark.sparkContext.accumulator(0)
    cfg = JobConfig(max_depth=3, wave_budget=3.0, default_delay=1.0, max_retries=1,
                    use_bloom=True, bloom_partitions=4, bloom_bits=1 << 14, emit_images=False)
    job = CrawlJob(spark, _flaky_fetcher(spark, corpus, fetched_rows),
                   catalog_root=str(tmp_path_factory.mktemp("crawl_retry")), config=cfg,
                   robots=spark.createDataFrame(corpus["robots"]))
    job.seed(spark.createDataFrame(corpus["seeds"]))
    job.run(max_waves=3)
    return job, fetched_rows


def test_wave_counters_match_catalog_recount(retry_job):
    """Every observed WaveStats counter equals a recount from what the
    wave committed: the results log, the frontier snapshots, lineage."""
    job, _ = retry_job
    assert [s.wave_id for s in job.stats] == [1, 2, 3]
    snaps = {s["wave_id"]: s for s in job.catalog.snapshots()}
    results = job.results()
    max_retries = job.cfg.max_retries
    seen_kinds = set()
    for st in job.stats:
        w = st.wave_id
        prev_frontier = job.catalog.read("frontier", snaps[w - 1])
        res = results.filter(F.col("wave_id") == w).join(
            prev_frontier.select("url", "retry_count"), "url"
        )
        denied = res.filter(F.col("status_code") == 403).count()  # fetches never return 403 here
        fetched = res.filter(F.col("status_code") != 403)
        retried = fetched.filter(
            F.col("status_code").isin(429, 503) & (F.col("retry_count") < max_retries)
        ).count()
        assert st.scheduled == prev_frontier.count() - denied, w
        assert st.admitted == fetched.count(), w
        assert st.fetched_ok == res.filter("success").count(), w
        assert st.failed == res.filter(~F.col("success")).count() - retried, w
        new_frontier = job.catalog.read("frontier", snaps[w])
        assert st.discovered == new_frontier.filter(F.col("wave_id") == w).count(), w
        lin = job.lineage().filter(F.col("wave_id") == w).agg(
            F.sum("urls_out").alias("out"), F.sum("dedup_hits").alias("dh")).first()
        assert (st.discovered, st.dedup_hits) == (lin["out"], lin["dh"]), w
        assert snaps[w]["rows"]["frontier"] == new_frontier.count()
        seen_kinds |= {"denied"} if denied else set()
        seen_kinds |= {"retried"} if retried else set()
        seen_kinds |= {"carried"} if st.scheduled > st.admitted else set()
    # the world really exercised every kind of wave row
    assert seen_kinds == {"denied", "retried", "carried"}


def test_each_admitted_row_fetched_once(retry_job):
    """The fetch (the network, in production) runs once per admitted row:
    the pinned wave frame feeds every write that needs fetched rows."""
    job, fetched_rows = retry_job
    assert fetched_rows.value == sum(s.admitted for s in job.stats) > 0


def test_expand_pass_runs_once_per_page(spark, world, tmp_path, monkeypatch):
    """The scrape + canonicalize Python pass sees each fetched page once:
    the pinned expansion feeds the seen, bloom, frontier and lineage
    writes."""
    from crawl4ai_spark.operators import scrape

    pages_in = spark.sparkContext.accumulator(0)
    extract = scrape.extract_links

    def counted(pages, *a, **kw):
        def count(batches):
            for pdf in batches:
                pages_in.add(len(pdf))
                yield pdf

        return extract(pages.mapInPandas(count, pages.schema), *a, **kw)

    monkeypatch.setattr(scrape, "extract_links", counted)
    job = make_job(spark, world, str(tmp_path / "cat"), emit_images=False, max_depth=10)
    job.seed(world["seeds"])
    job.run(max_waves=3)
    assert pages_in.value == sum(s.fetched_ok for s in job.stats) > 0


def test_job_resume_equals_single_run(spark, world, tmp_path_factory, finished):
    # run A: all at once (the `finished` fixture). run B: 2 waves, then a
    # NEW job instance resumes from the snapshot → identical seen set.
    job_a, _ = finished
    root_b = str(tmp_path_factory.mktemp("crawl_resume"))
    job_b1 = make_job(spark, world, root_b)
    job_b1.seed(world["seeds"])
    job_b1.run(max_waves=2)
    job_b2 = make_job(spark, world, root_b)  # fresh instance, same catalog
    job_b2.run(max_waves=10)
    seen_a = {r["url"] for r in job_a.seen_urls().collect()}
    seen_b = {r["url"] for r in job_b2.seen_urls().collect()}
    assert seen_a == seen_b
    res_a = {(r["url"], r["wave_id"]) for r in job_a.results().collect()}
    res_b = {(r["url"], r["wave_id"]) for r in job_b2.results().collect()}
    assert res_a == res_b


def test_job_bloom_off_equivalence(spark, world, tmp_path_factory, finished):
    job_a, _ = finished
    root = str(tmp_path_factory.mktemp("crawl_nobloom"))
    job = make_job(spark, world, root, use_bloom=False)
    job.seed(world["seeds"])
    job.run(max_waves=12)
    assert {r["url"] for r in job.seen_urls().collect()} == {
        r["url"] for r in job_a.seen_urls().collect()
    }


def test_job_cogrouped_bloom_equivalence(spark, world, tmp_path_factory, finished, monkeypatch):
    """A bloom too big to merge on the driver is tested shard-locally
    (cogroup): same seen set as the broadcast probe."""
    import crawl4ai_spark.pipeline as pipeline

    monkeypatch.setattr(pipeline, "BLOOM_BROADCAST_MAX_BYTES", 0)
    job_a, _ = finished
    job = make_job(spark, world, str(tmp_path_factory.mktemp("crawl_cogroup")))
    job.seed(world["seeds"])
    job.run(max_waves=12)
    assert {r["url"] for r in job.seen_urls().collect()} == {
        r["url"] for r in job_a.seen_urls().collect()
    }


def test_job_matches_reference_bfs_oracle(spark, world, tmp_path_factory):
    """North-rule tie: the PRODUCTION wave composition (politeness on,
    budget ample, no robots) crawls exactly the reference BFS level sets
    and ends with the reference URL-seen set (modulo the canonical
    seed, which CrawlJob pre-seeds)."""
    import sys

    sys.path.insert(0, "tests")
    from reference_oracle import bfs_oracle

    from crawl4ai_spark.functions.urls import normalize_url_for_deep_crawl

    corpus_pdf = world["pages"].toPandas()
    html_by_url = dict(zip(corpus_pdf["url"], corpus_pdf["html"]))
    canon_html = {
        normalize_url_for_deep_crawl(u, u): h for u, h in html_by_url.items()
    }

    def fetch(url):
        h = canon_html.get(url) or html_by_url.get(url)
        return (True, 200, h) if h is not None else (False, 404, "")

    start = page_url(0, 0)
    res, visited = bfs_oracle(start, fetch, max_depth=3)
    oracle_levels = {}
    for url, depth, _parent, success in res:
        if success:
            oracle_levels.setdefault(depth, set()).add(url)

    root = str(tmp_path_factory.mktemp("oracle_job"))
    job = make_job(spark, world, root, use_bloom=True, emit_images=False)
    job.robots = None
    seeds = spark.createDataFrame([(start,)], "url string")
    job.seed(seeds)
    job.run(max_waves=8)

    got_levels = {}
    for r in job.results().filter("success").collect():
        got_levels.setdefault(r["depth"], set()).add(r["url"])

    canon_start = normalize_url_for_deep_crawl(start, start)
    # depth 0: job crawls the canonical seed; oracle crawls the raw start
    assert got_levels[0] == {canon_start}
    assert oracle_levels[0] == {start}
    for d in range(1, 4):
        assert got_levels.get(d, set()) == oracle_levels.get(d, set()), d

    job_seen = {r["url"] for r in job.seen_urls().collect()}
    assert job_seen == visited | {canon_start}


def test_emit_pdfs_lands_validated_document_tables(spark, tmp_path):
    """The document plane (JobConfig.emit_pdfs + pdf_store): fetched
    pages' .pdf links resolve against the store and land per-page text
    and per-image rows in the catalog, matching a direct parse of the
    same payloads."""
    import hashlib

    from crawl4ai_spark.operators.traversal import canonical_corpus_fetcher
    from crawl4ai_spark.pdf import parse_pdf
    from crawl4ai_spark.pipeline import CrawlJob, JobConfig
    from crawl4ai_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(seed=7, n_hosts=2, pages_per_host=6,
                             with_images=False, with_pdfs=True)
    assert len(corpus["pdfs"]) > 0
    # max_depth=1: page i=1 (depth 1) is crawled, page i=5 (depth 2) is
    # NOT — its pdf must stay out of the catalog (real negative case)
    job = CrawlJob(
        spark,
        canonical_corpus_fetcher(spark.createDataFrame(corpus["pages"])),
        catalog_root=str(tmp_path / "cat"),
        config=JobConfig(max_depth=1, wave_budget=100.0, emit_images=False,
                         emit_pdfs=True, use_bloom=False),
        robots=spark.createDataFrame(corpus["robots"]),
        pdf_store=spark.createDataFrame(corpus["pdfs"][["pdf_id", "bytes"]]),
    )
    job.seed(spark.createDataFrame(corpus["seeds"]))
    job.run(max_waves=4)

    pages = {(r["pdf_id"], r["page_number"]): r for r in job.catalog.read("pdf_pages").collect()}
    images = [r.asDict() for r in job.catalog.read("pdf_images").collect()]
    assert pages, "no pdf pages emitted"
    # every emitted row matches a direct parse of the stored payload
    payload = dict(zip(corpus["pdfs"]["pdf_id"], corpus["pdfs"]["bytes"]))
    emitted_ids = {pid for pid, _ in pages}
    for pid in emitted_ids:
        res = parse_pdf(payload[pid])
        for pg in res["pages"]:
            row = pages[(pid, pg["page_number"])]
            assert row["raw_text"] == pg["raw_text"]
            assert row["n_pages"] == res["metadata"]["pages"]
    for r in images:
        assert r["error"] is None and r["phash"] is not None
        res = parse_pdf(payload[r["pdf_id"]])
        im = res["pages"][r["page_number"] - 1]["images"][r["img_index"]]
        assert hashlib.md5(im["data"]).hexdigest() == hashlib.md5(r["data"]).hexdigest()
    # the negative case for real: crawled pages are exactly depth <= 1,
    # so the depth-2 page's pdf (i=5) must be absent while the depth-1
    # page's pdf (i=1) is present — for every host the crawl reached
    crawled = {r["url"] for r in job.catalog.read("results").filter("success").collect()}
    linked_from = dict(zip(corpus["pdfs"]["pdf_id"], corpus["pdfs"]["page_url"]))
    for pid, page_url in linked_from.items():
        if page_url in crawled:
            assert pid in emitted_ids, (pid, page_url)
        else:
            assert pid not in emitted_ids, (pid, page_url)
    assert any(u not in crawled for u in linked_from.values()), "corpus lost its negative case"


def test_emit_pdfs_cross_wave_dedup(spark, tmp_path):
    """A PDF linked from pages crawled in DIFFERENT waves must land in
    the catalog exactly once (first-writer wave wins), like the URL seen
    set."""
    import pandas as pd

    from crawl4ai_spark.operators.traversal import canonical_corpus_fetcher
    from crawl4ai_spark.pipeline import CrawlJob, JobConfig
    from crawl4ai_spark.sources.corpus import _pdf_payload

    root = "https://w.test/"
    child = "https://w.test/docs/p1"
    pdf_link = '<a href="/files/shared-0001.pdf">pdf</a>'
    pages = pd.DataFrame(
        [
            dict(url=root, host="w.test", depth_hint=0,
                 head_html="<head><title>r</title></head>",
                 html=f'<html><body><a href="/docs/p1">c</a>{pdf_link}</body></html>',
                 status_code=200),
            dict(url=child, host="w.test", depth_hint=1,
                 head_html="<head><title>c</title></head>",
                 html=f"<html><body>{pdf_link}</body></html>",
                 status_code=200),
        ]
    )
    store = pd.DataFrame([dict(pdf_id="shared-0001", bytes=_pdf_payload("shared-0001", 0, 1))])
    job = CrawlJob(
        spark,
        canonical_corpus_fetcher(spark.createDataFrame(pages)),
        catalog_root=str(tmp_path / "cat2"),
        config=JobConfig(max_depth=2, wave_budget=100.0, emit_images=False,
                         emit_pdfs=True, use_bloom=False),
        pdf_store=spark.createDataFrame(store),
    )
    job.seed(spark.createDataFrame([(root,)], ["url"]))
    job.run(max_waves=4)
    rows = job.catalog.read("pdf_pages").collect()
    waves = {r["wave_id"] for r in rows}
    ids = [(r["pdf_id"], r["page_number"]) for r in rows]
    assert len(ids) == len(set(ids)), "duplicate (pdf_id, page) rows across waves"
    assert waves == {min(waves)}, "pdf re-emitted in a later wave"
    # both linking pages really were crawled in different waves
    from crawl4ai_spark.functions.urls import normalize_url_for_deep_crawl

    res = {r["url"]: r["wave_id"] for r in job.catalog.read("results").filter("success").collect()}
    assert (
        res[normalize_url_for_deep_crawl(root, root)]
        != res[normalize_url_for_deep_crawl(child, child)]
    )
