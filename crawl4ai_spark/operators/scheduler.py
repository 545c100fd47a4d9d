"""Per-host politeness scheduler, robots gate, priority queue.

Re-expresses the reference's RateLimiter + MemoryAdaptiveDispatcher
semantics (async_dispatcher.py:28-85, 217-226, 470-527) as wave-level
DataFrame computations:

* **Token bucket as timestamp assignment** — instead of sleeping, each
  frontier row gets a deterministic ``scheduled_offset`` within the wave:
  the i-th request to a host fires at ``host_ready + (i-1) * delay``.
  Rows whose offset exceeds the wave budget are carried to the next wave
  (their ``wait_waves`` ages them up the priority order — the reference's
  anti-starvation pass).
* **Skew-proof per-host ranking** — the per-host rank is a two-phase
  salted top-K (partial top-K per (host, salt), then top-K per host), so
  a hot host with 10^7 queued URLs never lands in one window partition.
  K is small by construction: budget/delay requests per host per wave.
* **Robots gate** — robots.txt rules live in a broadcast dimension table
  (the reference's 7-day SQLite cache, utils.py:252-275); ``can_fetch``
  runs stdlib RobotFileParser inside an Arrow-batched pandas UDF
  (utils.py:358-365 uses the same parser). Missing rules ⇒ allow
  (utils.py:350-355); denial ⇒ FAILED row with status 403
  (async_webcrawler.py:382-395).
* **Backoff state** — per-host (last_request_time, current_delay,
  fail_count) folded with the reference's update rule
  (async_dispatcher.py:65-85) and deterministic jitter (RNG seeded per
  host — parity tests pin jitter to 1.0).  Physically: collect_list per
  host + ONE Arrow-batched fold over many hosts per Python call — a
  per-group applyInPandas pays ~5 ms of pandas overhead per host, which
  measured 4.5-8.3 s/wave at just 1.5k hosts and would be hours at 10^7.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

HOST_STATE_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("last_request_time", T.DoubleType()),
        T.StructField("current_delay", T.DoubleType()),
        T.StructField("fail_count", T.IntegerType()),
    ]
)

# host_state rows are ~60 bytes; 2M rows ≈ 120 MB — past that a forced
# broadcast per wave risks driver OOM at the SURVEY's 10^7-host scale.
BROADCAST_HOST_STATE_MAX_ROWS = 2_000_000


def _join_host_state(
    df: DataFrame, host_state: DataFrame, host_state_rows: int | None
) -> DataFrame:
    """Left-join per-host backoff state WITHOUT a forced broadcast.

    The reference's DomainState dict is unbounded (async_dispatcher.py:
    46-50), so host_state is O(distinct hosts) — small for a site crawl,
    multi-GB at 10^7 hosts.  A known-small row count (CrawlJob reads it
    from the snapshot's recorded row counts) keeps the explicit broadcast
    hint; otherwise the hint is omitted and AQE elects broadcast-vs-shuffle from the RUNTIME size —
    the join is a plain equi-join on ``host`` either way."""
    hs = host_state
    if host_state_rows is not None and host_state_rows <= BROADCAST_HOST_STATE_MAX_ROWS:
        hs = F.broadcast(hs)
    return df.join(hs, "host", "left")


# ---------------------------------------------------------------------------
# robots gate
# ---------------------------------------------------------------------------


@F.pandas_udf(T.BooleanType())
def can_fetch_udf(rules: pd.Series, url: pd.Series) -> pd.Series:
    """stdlib RobotFileParser.can_fetch('*', url); null/empty rules allow."""
    from urllib.robotparser import RobotFileParser

    cache: dict[str, RobotFileParser] = {}
    out = []
    for r, u in zip(rules, url):
        if r is None or not str(r).strip():
            out.append(True)
            continue
        rp = cache.get(r)
        if rp is None:
            rp = RobotFileParser()
            rp.parse(str(r).splitlines())
            cache[r] = rp
        out.append(bool(rp.can_fetch("*", u)))
    return pd.Series(out, dtype=bool)


def robots_gate(frontier: DataFrame, robots: DataFrame | None) -> DataFrame:
    """Adds ``robots_allowed``; robots is a small dim table → broadcast."""
    if robots is None:
        return frontier.withColumn("robots_allowed", F.lit(True))
    joined = frontier.join(
        F.broadcast(robots.select("host", "rules")), "host", "left"
    )
    return joined.withColumn("robots_allowed", can_fetch_udf(F.col("rules"), F.col("url"))).drop(
        "rules"
    )


ROBOTS_CACHE_TTL = 7 * 24 * 60 * 60  # reference utils.py:254 default


def robots_stale_hosts(
    cache: DataFrame | None, hosts: DataFrame, now: float,
    cache_ttl: int = ROBOTS_CACHE_TTL,
) -> DataFrame:
    """Which hosts need a robots.txt (re)fetch — the fast-path/TTL split
    of the reference's ``RobotsParser.can_fetch`` (utils.py:277-291,
    332-336): a host is served from cache iff a row exists AND
    ``now - fetch_time < cache_ttl``; everything else fetches."""
    hosts = hosts.select("host").distinct()
    if cache is None:
        return hosts
    fresh = cache.filter(F.lit(float(now)) - F.col("fetch_time") < F.lit(float(cache_ttl)))
    return hosts.join(F.broadcast(fresh.select("host")), "host", "left_anti")


def robots_cache_refresh(
    cache: DataFrame | None, fetched: DataFrame, now: float,
) -> DataFrame:
    """Merge newly fetched robots.txt bodies into the cached dim table
    with the reference's md5 change-detection semantics
    (``RobotsParser._cache_rules``, utils.py:293-311): a row is replaced
    (rules + fetch_time + hash) only when the content hash CHANGED or
    the host is new.  Quirk pinned: unchanged content keeps the OLD
    fetch_time — the reference only writes on hash change, so an
    unchanged robots.txt goes stale again immediately and refetches on
    every subsequent check until it actually changes.

    ``cache``: (host, rules, fetch_time, hash); ``fetched``:
    (host, rules) — hosts whose fetch errored must not appear (the
    reference's allow-on-error lives in can_fetch, not the cache)."""
    new = fetched.select(
        "host",
        F.col("rules").alias("_new_rules"),
        F.md5(F.col("rules")).alias("_new_hash"),
    )
    if cache is None:
        return new.select(
            "host", F.col("_new_rules").alias("rules"),
            F.lit(float(now)).alias("fetch_time"), F.col("_new_hash").alias("hash"),
        )
    joined = cache.join(new, "host", "full_outer")
    # null-safe change test: a legacy/partial cached row with a NULL hash
    # must read as "changed" — plain `hash != _new_hash` is NULL there,
    # which would pin the stale rules forever (ADVICE r4)
    changed = (
        F.col("rules").isNull()
        | F.col("hash").isNull()
        | ~F.col("hash").eqNullSafe(F.col("_new_hash"))
    )
    take_new = F.col("_new_rules").isNotNull() & changed
    return joined.select(
        "host",
        F.when(take_new, F.col("_new_rules")).otherwise(F.col("rules")).alias("rules"),
        F.when(take_new, F.lit(float(now))).otherwise(F.col("fetch_time")).alias("fetch_time"),
        F.when(take_new, F.col("_new_hash")).otherwise(F.col("hash")).alias("hash"),
    )


# ---------------------------------------------------------------------------
# priority + aging
# ---------------------------------------------------------------------------


def priority_bucket_expr(
    retry_count: Column, wait_waves: Column, fairness_waves: int = 10
) -> Column:
    """Reference priority: retry_count, unless the item has waited past the
    fairness timeout, in which case it jumps the queue with a negative
    priority proportional to its wait (async_dispatcher.py:217-226)."""
    return (
        F.when(wait_waves > fairness_waves, -wait_waves)
        .otherwise(retry_count)
        .cast("int")
    )


def queue_order() -> list[Column]:
    """Canonical frontier ordering: priority bucket, then score desc,
    depth asc, url asc (the logical queue discipline)."""
    return [
        F.col("priority_bucket").asc(),
        F.col("score").desc(),
        F.col("depth").asc(),
        F.col("url").asc(),
    ]


def per_host_topk(
    df: DataFrame,
    k: int,
    order_cols: list[Column] | None = None,
    salt_buckets: int = 16,
    salt_col: str = "url",
    keep_tail: bool = False,
    eligible_col: str | None = None,
) -> DataFrame:
    """Two-phase salted per-host top-K → ``rank_in_host`` column (1-based).

    Phase 1 computes a partial top-K inside each (host, salt) slice, so
    the heaviest host fans across ``salt_buckets`` tasks; phase 2 ranks
    the ≤ k*salt_buckets survivors per host — tiny by construction.

    With ``keep_tail`` rows beyond the top-K are returned too, with a
    NULL ``rank_in_host`` — tagged, never dropped, in ONE branch (no
    survivors/tail split, so nothing upstream runs twice and no pin is
    needed): phase 2 partitions by (host, -1) for a host's phase-1
    survivors and by (host, salt) for its tail, so the survivors rank
    together exactly as in the dropping form while a hot host's tail stays
    spread over its salt slices; ranks of tail rows and ranks > K are
    NULLed.  Requires ``df`` rows unique per ``salt_col`` (the frontier's
    canonical-URL invariant) for the ranking to be deterministic under
    ties.

    ``eligible_col`` names a boolean column; rows where it is false are
    never ranked (dropped, or NULL rank with ``keep_tail``) and take no
    slot from their host.  It lets a gate computed upstream (robots) split
    its rows off AFTER this shuffle, so the gate runs once.
    """
    order_cols = order_cols or queue_order()
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(F.col(salt_col)), F.lit(salt_buckets)))
    part1 = ["host", "_salt"] + ([eligible_col] if eligible_col else [])
    w1 = Window.partitionBy(*part1).orderBy(*order_cols)
    w2 = Window.partitionBy("host").orderBy(*order_cols)
    stage1 = salted.withColumn("_prn", F.row_number().over(w1))
    surv = F.col("_prn") <= k
    if eligible_col:
        surv = surv & F.col(eligible_col)
    if not keep_tail:
        ranked = stage1.filter(surv).withColumn("rank_in_host", F.row_number().over(w2))
        return ranked.filter(F.col("rank_in_host") <= k).drop("_salt", "_prn")
    w2_tail = Window.partitionBy("host", F.when(surv, F.lit(-1)).otherwise(F.col("_salt"))).orderBy(
        *order_cols
    )
    rank = F.row_number().over(w2_tail)
    return stage1.withColumn(
        "rank_in_host", F.when(surv & (rank <= k), rank).otherwise(F.lit(None).cast("int"))
    ).drop("_salt", "_prn")


def salted_range_partition(df: DataFrame, n_partitions: int, salt_buckets: int = 16) -> DataFrame:
    """North-rule physical layout: salted range partitioning on
    (priority_bucket, host_hash) — hot hosts split across salt buckets so
    no single reducer owns a hot host's queue."""
    return df.withColumn("_host_hash", F.xxhash64("host")).withColumn(
        "_salt", F.pmod(F.xxhash64("url"), F.lit(salt_buckets))
    ).repartitionByRange(n_partitions, "priority_bucket", "_host_hash", "_salt").drop(
        "_host_hash", "_salt"
    )


# ---------------------------------------------------------------------------
# wave scheduling (token bucket as timestamps)
# ---------------------------------------------------------------------------


def schedule_wave(
    frontier: DataFrame,
    host_state: DataFrame | None,
    wave_start: float,
    wave_budget: float,
    default_delay: float = 1.0,
    salt_buckets: int = 16,
    host_state_rows: int | None = None,
    eligible_col: str | None = None,
) -> DataFrame:
    """Assign ``scheduled_offset`` per row and ``admitted`` flag.

    The i-th request to a host in this wave fires at
    ``max(last_request_time + current_delay - wave_start, 0) + (i-1)*delay``;
    rows beyond the wave budget are carried (admitted = false).
    ``host_state_rows``: pass a known row count to size-gate the
    host-state broadcast (see ``_join_host_state``); None lets AQE pick.
    ``eligible_col``: rows where this boolean column is false pass through
    unranked and not admitted (see :func:`per_host_topk`).
    """
    if host_state is not None:
        frontier = _join_host_state(frontier, host_state, host_state_rows)
    else:
        frontier = (
            frontier.withColumn("last_request_time", F.lit(None).cast("double"))
            .withColumn("current_delay", F.lit(None).cast("double"))
            .withColumn("fail_count", F.lit(None).cast("int"))
        )
    delay = F.coalesce(F.col("current_delay"), F.lit(default_delay))
    # max rows any host can admit this wave bounds K for the salted top-K;
    # rows beyond K come back with NULL rank (keep_tail) and carry to the
    # next wave — a host with more queued URLs than K never loses its tail
    k = max(int(wave_budget / max(default_delay * 0.25, 1e-9)), 1)
    ranked = per_host_topk(
        frontier, k, salt_buckets=salt_buckets, keep_tail=True, eligible_col=eligible_col
    )
    ready = F.greatest(
        F.coalesce(F.col("last_request_time") + delay - F.lit(wave_start), F.lit(0.0)),
        F.lit(0.0),
    )
    out = ranked.withColumn(
        "scheduled_offset",
        F.when(F.col("rank_in_host").isNotNull(), ready + (F.col("rank_in_host") - 1) * delay),
    ).withColumn(
        "admitted",
        F.coalesce(F.col("scheduled_offset") < F.lit(wave_budget), F.lit(False)),
    )
    return out.drop("last_request_time", "current_delay", "fail_count")


def update_host_state(
    wave_results: DataFrame,
    host_state: DataFrame | None,
    wave_start: float,
    base_delay: tuple[float, float] = (1.0, 1.0),
    max_delay: float = 60.0,
    max_retries: int = 3,
    jitter: bool = False,
    seed: int = 42,
    host_state_rows: int | None = None,
) -> DataFrame:
    """Fold the RateLimiter update rule over each host's wave results in
    scheduled order (async_dispatcher.py:65-85):

    * 429/503 → fail_count += 1; if fail_count > max_retries the delay
      FREEZES (update_delay returns early, :71-73) until a success;
      else delay = min(delay * 2 * U(0.75,1.25), max)
    * success → delay = max(U(base), delay * 0.75), fail_count = 0

    Deterministic mode (default) pins both jitter draws to their midpoint
    / lower bound so two runs produce identical schedules.
    Cross-checked against the reference class itself
    (tests/test_reference_crosscheck.py).

    ``host_state_rows`` is accepted for symmetry with
    :func:`schedule_wave` and unused: the state is read through the
    events' own shuffle, never broadcast.
    """
    # ONE shuffle gathers, per host, the wave's events in scheduled order
    # (offsets are distinct per host by construction — the scheduler
    # assigns rank-spaced timestamps — so the struct sort IS the scheduled
    # order) AND the host's prior state: events and state rows are unioned
    # before the groupBy, so no join and no second pass over the fold's
    # output.  Then ONE Arrow batch folds many touched hosts per Python
    # call (a per-group applyInPandas paid ~5 ms of pandas overhead per
    # HOST: seconds per wave at 10^3 hosts, hours at 10^7); untouched
    # hosts pass through in the JVM.  Both branches read the same shuffle.
    ev = F.struct(
        F.col("scheduled_offset").alias("off"), F.col("status_code").alias("sc")
    ).alias("ev")
    state_fields = HOST_STATE_SCHEMA.fields[1:]
    state_cols = [f.name for f in state_fields]
    rows = wave_results.select(
        "host", ev, *[F.lit(None).cast(f.dataType).alias(f.name) for f in state_fields]
    )
    if host_state is not None:
        no_ev = F.lit(None).cast(rows.schema["ev"].dataType).alias("ev")
        rows = rows.unionByName(host_state.select("host", no_ev, *state_cols))
    grouped = rows.groupBy("host").agg(
        F.sort_array(F.collect_list("ev")).alias("evs"),  # state rows' NULL ev is skipped
        *[F.first(c, ignorenulls=True).alias(c) for c in state_cols],
    )
    touched = F.size("evs") > 0

    def gen(batches):
        import zlib

        for pdf in batches:
            out = []
            for host, evs, delay0, fails0 in zip(
                pdf["host"], pdf["evs"], pdf["current_delay"], pdf["fail_count"]
            ):
                fails = int(0 if pd.isna(fails0) else fails0)
                # jitter stream advances per WAVE (wave_start in the seed)
                # so draws don't repeat wave after wave; with jitter off
                # the rng is never consulted and the fold is bit-stable
                rng = np.random.default_rng(
                    (seed, zlib.crc32(host.encode()), int(wave_start * 1000) & 0x7FFFFFFF)
                )
                if pd.isna(delay0) or delay0 == 0:
                    # reference: a NEW host's first delay is drawn from
                    # U(base) (RateLimiter.wait_if_needed init)
                    delay = float(rng.uniform(*base_delay) if jitter else base_delay[0])
                else:
                    delay = float(delay0)
                last = wave_start + max(float(e["off"]) for e in evs)
                for e in evs:
                    if e["sc"] in (429, 503):
                        fails += 1
                        if fails > max_retries:
                            continue  # give-up branch: delay frozen (dispatcher :71-73)
                        j = rng.uniform(0.75, 1.25) if jitter else 1.0
                        delay = min(delay * 2 * j, max_delay)
                    else:
                        b = rng.uniform(*base_delay) if jitter else base_delay[0]
                        delay = max(b, delay * 0.75)
                        fails = 0
                out.append((host, last, delay, fails))
            yield pd.DataFrame(
                out,
                columns=["host", "last_request_time", "current_delay", "fail_count"],
            )

    updated = grouped.filter(touched).mapInPandas(gen, HOST_STATE_SCHEMA)
    if host_state is None:
        return updated
    return grouped.filter(~touched).select("host", *state_cols).unionByName(updated)
