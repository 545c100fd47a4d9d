"""Output checks run after every crawl, outside the timed window.

* crawl-order digest: sha256 of the results log ordered by
  ``(wave_id, host, scheduled_offset, url)``;
* seen-set digest: sha256 of the sorted final seen set;
* images digest: sha256 of the sorted ``(image_id, phash)`` set landed;
* no URL has more than one result (none fetched twice across waves), the
  seen set holds no duplicate, and every fetched-OK URL is a page of the
  generated world.

For a seed recorded in ``expected.json`` the three digests must equal the
recorded ones; for any seed every crawl of one run must produce the same
digests (the crawl order is deterministic by contract).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _digest(df, *cols) -> str:
    """sha256 over the rows' ``cols`` in sorted order, one JSON line each."""
    row = df.agg(F.sort_array(F.collect_list(F.struct(*cols))).alias("rows")).select(
        F.sha2(F.concat_ws("\n", F.transform("rows", lambda r: F.to_json(r))), 256).alias("d")
    ).first()
    return row["d"]


def digests(job) -> dict:
    images = job.images()
    return {
        "order": _digest(job.results(), "wave_id", "host", "scheduled_offset", "url"),
        "seen": _digest(job.seen_urls(), "url"),
        "images": None if images is None else _digest(images, "image_id", "phash"),
    }


def check_crawl(job, world) -> dict:
    problems = []
    results = job.results()
    repeated = results.groupBy("url").count().filter("count > 1").count()
    if repeated:
        problems.append(f"{repeated} URLs have more than one result")
    seen = job.seen_urls().agg(F.count("*").alias("n"), F.countDistinct("url").alias("distinct")).first()
    if seen["distinct"] != seen["n"]:
        problems.append("seen set holds duplicate URLs")
    ok = results.filter("success").select("url")
    if ok.limit(1).count() == 0:
        problems.append("no page fetched")
    outside = ok.join(world.world_urls, "url", "left_anti").count()
    if outside:
        problems.append(f"{outside} fetched URLs are not pages of the world")
    d = digests(job)
    if world.image_store is not None and not d["images"]:
        problems.append("no image rows landed")
    return {"ok": not problems, "problems": problems, "digests": d}


def compare_digests(crawls, workload: str, seed: int) -> None:
    """Mark crawls whose digests differ from the recorded ones (recorded
    seeds) or from the run's first crawl (any seed)."""
    with open(EXPECTED) as f:
        recorded = json.load(f).get(workload, {}).get(str(seed))
    reference = recorded or crawls[0][2]["digests"]
    source = "recorded" if recorded else "first crawl of this run"
    for _, _, check in crawls:
        for name, value in check["digests"].items():
            if value != reference.get(name):
                check["ok"] = False
                check["problems"].append(f"{name} digest {value} != {source} {reference.get(name)}")
