"""URL-seen set: partitioned bloom filter + exact anti-join.

North-rule component: the 10^10-URL frontier needs a dedup test whose
cheap path avoids shuffling every candidate against the full seen table.
Design:

* **Truth** = exact ``left_anti`` join of candidates against the ``seen``
  table on the canonical URL (the reference's ``visited`` set,
  bfs_strategy.py:119-120 — the final seen set must match exactly, so the
  bloom filter is only ever a pre-filter).
* **Pre-filter** = a partitioned bloom filter keyed by murmur3_32 of the
  canonical URL (``F.hash``): the hash space is split into
  ``n_partitions`` shards; each shard is an independent bloom bit array
  built per-partition with ``applyInPandas`` (numpy bit ops, no Python
  loops).  Shards are **mergeable** (bitwise OR), so each wave appends a
  delta bloom and readers OR deltas per shard — same append-only pattern
  as the seen table itself.
* Candidates are routed to their shard by ``pmod(hash, n_partitions)``
  and tested shard-locally via a cogrouped ``applyInPandas`` — the shard
  join replaces a broadcast (the full bloom at 10^10 x 10 bits ≈ 12 GB —
  too big to broadcast; a shard is a few MB).

Rows that the bloom says are *definitely new* skip the anti-join against
the giant seen table entirely; only the "maybe seen" minority (true
dupes + ~1% false positives) pays the exact join.  No false negatives by
construction — verified property in tests.

When the pipeline needs recrawl invalidation (un-seeing URLs), use the
deletion-capable cuckoo variant in :mod:`.cuckoo` — same shard layout and
anti-join contract, O(1) fingerprint deletes.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Bloom hash-scheme version, stamped into every persisted shard.  Blooms
# are consulted on resume from catalog snapshots: a shard built by an
# older hash scheme would silently produce false NEGATIVES (rows tagged
# not-maybe-seen bypass the exact anti-join), so readers must check
# ``bloom_version_ok`` and rebuild from the seen table on mismatch.
# v2 = seeded-xxhash64 double hashing (v1 was md5-derived keys).
BLOOM_FORMAT_VERSION = 2

BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("bloom_part", T.IntegerType()),
        T.StructField("bits", T.BinaryType()),
        T.StructField("n_items", T.LongType()),
        T.StructField("fmt_version", T.IntegerType()),
        # geometry stamp: shards built with a different shard count (or
        # bit-array size) route candidates to the WRONG shard on resume —
        # silent false negatives that bypass the exact anti-join.  Readers
        # must verify geometry via ``bloom_version_ok`` and rebuild on
        # mismatch, exactly like the hash-scheme fmt_version.
        T.StructField("n_partitions", T.IntegerType()),
        T.StructField("m_bits", T.LongType()),
    ]
)

_K = 4  # hash functions (double hashing)

# a bloom up to this size is merged on the driver and broadcast (no shuffle
# for definitely-new rows); a bigger one is tested shard-locally by cogroup
BLOOM_BROADCAST_MAX_BYTES = 256 << 20


def _positions(h1: np.ndarray, h2: np.ndarray, m_bits: int) -> np.ndarray:
    """k positions per item via double hashing: (h1 + i*h2) mod m."""
    idx = np.arange(_K, dtype=np.uint64)[None, :]
    return (h1[:, None] + idx * h2[:, None]) % np.uint64(m_bits)


def _with_bloom_keys(df: DataFrame, url_col: str, n_partitions: int) -> DataFrame:
    """Shard id + the two 64-bit double-hashing keys, all JVM-side:
    murmur3 routes to the shard (the north rule's murmur3-of-canonical-URL
    key) and two seeded xxhash64 values drive the k probe positions.  No
    Python touches a URL string anywhere in the bloom build/test path —
    the pandas stages below only do numpy bit arithmetic on int64s."""
    url = F.col(url_col)
    return (
        df.withColumn("bloom_part", F.pmod(F.hash(url), F.lit(n_partitions)))
        .withColumn("_h1", F.xxhash64(url))
        .withColumn("_h2", F.xxhash64(F.lit("bloom2"), url))
    )


def _key_arrays(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    h1 = pdf["_h1"].to_numpy(np.int64).view(np.uint64)
    h2 = pdf["_h2"].to_numpy(np.int64).view(np.uint64) | np.uint64(1)
    return h1, h2


def build_bloom(
    df: DataFrame, url_col: str = "url", n_partitions: int = 32, m_bits: int = 1 << 20
) -> DataFrame:
    """Build per-shard bloom bit arrays for the URLs in ``df``."""

    def build(key, pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(m_bits // 8, np.uint8)
        h1, h2 = _key_arrays(pdf)
        pos = _positions(h1, h2, m_bits).ravel()
        np.bitwise_or.at(bits, (pos >> 3).astype(np.int64), (1 << (pos & 7)).astype(np.uint8))
        return pd.DataFrame(
            {
                "bloom_part": [key[0]],
                "bits": [bits.tobytes()],
                "n_items": [len(pdf)],
                "fmt_version": [BLOOM_FORMAT_VERSION],
                "n_partitions": [n_partitions],
                "m_bits": [m_bits],
            }
        )

    with_part = _with_bloom_keys(df, url_col, n_partitions)
    return with_part.groupBy("bloom_part").applyInPandas(build, BLOOM_SCHEMA)


def _merged_geom(col: pd.Series) -> int:
    """Single agreed geometry value, or -1 for NULL/mixed (reject)."""
    vals = col.dropna().unique()
    if len(vals) != 1 or col.isna().any():
        return -1
    return int(vals[0])


def merge_blooms(blooms: DataFrame) -> DataFrame:
    """OR together per-shard deltas from multiple waves."""

    def merge(key, pdf: pd.DataFrame) -> pd.DataFrame:
        acc = None
        for b in pdf["bits"]:
            arr = np.frombuffer(b, np.uint8)
            acc = arr.copy() if acc is None else (acc | arr)
        return pd.DataFrame(
            {
                "bloom_part": [key[0]],
                "bits": [acc.tobytes()],
                "n_items": [int(pdf["n_items"].sum())],
                # NULL-poisoning everywhere: a shard set mixing
                # pre-version (NULL) deltas with current ones must NOT
                # merge into a "current" stamp (pandas min skips NaN) —
                # -1 fails bloom_version_ok, forcing the rebuild
                "fmt_version": [
                    -1 if pdf["fmt_version"].isna().any() else int(pdf["fmt_version"].min())
                ],
                "n_partitions": [_merged_geom(pdf["n_partitions"])],
                "m_bits": [_merged_geom(pdf["m_bits"])],
            }
        )

    return blooms.groupBy("bloom_part").applyInPandas(merge, BLOOM_SCHEMA)


_STAMPS = ("fmt_version", "n_partitions", "m_bits")


def _stale(rows, n_partitions: int | None, m_bits: int | None) -> bool:
    """Any collected shard row stamped with another hash scheme or (when
    expected values are given) another geometry.  A NULL stamp (a shard
    written before the stamp existed) never equals the expected value, so
    a MIXED shard set fails too."""
    expected = {"fmt_version": BLOOM_FORMAT_VERSION, "n_partitions": n_partitions, "m_bits": m_bits}
    return any(r[c] != v for r in rows for c, v in expected.items() if v is not None)


def bloom_version_ok(
    blooms: DataFrame | None,
    n_partitions: int | None = None,
    m_bits: int | None = None,
) -> bool:
    """True iff every persisted shard was built by the CURRENT hash
    scheme AND (when expected values are given) the CURRENT geometry.

    A missing/older fmt_version means the shard's bit positions no
    longer correspond to today's hashes; a differing ``n_partitions``
    routes candidates to the WRONG shard (pmod with a different modulus);
    a differing ``m_bits`` probes the wrong bit offsets (and unequal
    shard byte-sizes crash the OR-merge).  All three produce silent
    false negatives that bypass the exact anti-join — callers must
    rebuild from the seen table on any mismatch."""
    if blooms is None:
        return True
    needed = ["fmt_version"] + [c for c, v in zip(_STAMPS[1:], (n_partitions, m_bits)) if v is not None]
    if not set(needed) <= set(blooms.columns):
        return False  # pre-version / pre-geometry-stamp shards: unverifiable
    return not _stale(blooms.select(*needed).collect(), n_partitions, m_bits)


def bloom_maybe_seen(
    candidates: DataFrame, blooms: DataFrame, url_col: str = "url", n_partitions: int = 32,
) -> DataFrame:
    """Tag candidates with ``maybe_seen`` by testing each row against its
    shard's bit array (cogrouped shard-local test — no broadcast)."""
    cand = _with_bloom_keys(candidates, url_col, n_partitions)
    out_schema = T.StructType(
        cand.schema.fields + [T.StructField("maybe_seen", T.BooleanType())]
    )

    def test(key, cdf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
        if len(cdf) == 0:
            return cdf.assign(maybe_seen=pd.Series([], dtype=bool))
        if len(bdf) == 0:
            return cdf.assign(maybe_seen=False)
        bits = np.frombuffer(bdf["bits"].iloc[0], np.uint8)
        if len(bdf) > 1:  # unmerged deltas: OR on the fly
            bits = bits.copy()
            for b in bdf["bits"].iloc[1:]:
                bits |= np.frombuffer(b, np.uint8)
        mb = len(bits) * 8  # shard is self-describing (m_bits = array size)
        h1, h2 = _key_arrays(cdf)
        pos = _positions(h1, h2, mb)
        hit = (bits[(pos >> 3).astype(np.int64)] >> (pos & 7).astype(np.uint8)) & 1
        return cdf.assign(maybe_seen=hit.all(axis=1))

    return (
        cand.groupBy("bloom_part")
        .cogroup(blooms.groupBy("bloom_part"))
        .applyInPandas(test, out_schema)
        .drop("bloom_part", "_h1", "_h2")
    )


def bloom_shards(
    blooms: DataFrame, n_partitions: int, m_bits: int
) -> dict[int, np.ndarray] | None:
    """Collect the persisted shards to the driver (one job) and OR each
    shard's deltas together, for :func:`bloom_tag`.  The collected rows
    double as the version/geometry guard of :func:`bloom_version_ok`:
    ``None`` when any row is stamped with another hash scheme or geometry
    (or predates the stamps) — callers must rebuild from the seen table."""
    if not set(_STAMPS) <= set(blooms.columns):
        return None
    rows = blooms.select("bloom_part", "bits", *_STAMPS).collect()
    if _stale(rows, int(n_partitions), int(m_bits)):
        return None
    return merge_shard_rows(rows)


def merge_shard_rows(rows) -> dict[int, np.ndarray]:
    """bloom_part -> OR of that shard's bit arrays over ``rows``."""
    shards: dict[int, np.ndarray] = {}
    for r in rows:
        arr = np.frombuffer(r["bits"], np.uint8)
        p = int(r["bloom_part"])
        shards[p] = arr.copy() if p not in shards else (shards[p] | arr)
    return shards


def tag_seen(
    candidates: DataFrame,
    seen: DataFrame | None,
    url_col: str = "url",
    seen_col: str = "url",
    maybe_col: str | None = None,
) -> DataFrame:
    """Candidates plus a ``dedup_hit`` boolean: True iff the URL is
    already in the seen set.  Exact: a prefilter only decides which rows
    skip the seen-table join.

    ``maybe_col`` names a prefilter's verdict column (``maybe_seen`` from
    :func:`bloom_tag` / :func:`bloom_maybe_seen`): rows where it is false
    are tagged False without a join, and only the maybe-seen minority is
    left-joined against the seen keys.  The column is dropped.  Both
    branches read the candidates' plan, so a shuffle below it is reused,
    not recomputed."""
    if seen is None:
        out = candidates.withColumn("dedup_hit", F.lit(False))
        return out if maybe_col is None else out.drop(maybe_col)
    hits = seen.select(F.col(seen_col).alias(url_col)).distinct().withColumn(
        "dedup_hit", F.lit(True)
    )

    def probe(df: DataFrame) -> DataFrame:
        return df.join(hits, url_col, "left").withColumn(
            "dedup_hit", F.coalesce(F.col("dedup_hit"), F.lit(False))
        )

    if maybe_col is None:
        return probe(candidates)
    fresh = candidates.filter(~F.col(maybe_col)).drop(maybe_col)
    maybe = candidates.filter(F.col(maybe_col)).drop(maybe_col)
    return fresh.withColumn("dedup_hit", F.lit(False)).unionByName(probe(maybe))


def anti_join_seen(
    candidates: DataFrame,
    seen: DataFrame | None,
    url_col: str = "url",
    blooms: DataFrame | None = None,
    seen_col: str = "url",
    n_partitions: int = 32,
    bloom_broadcast_max_bytes: int = BLOOM_BROADCAST_MAX_BYTES,
) -> DataFrame:
    """Candidates not yet in the seen set (:func:`tag_seen` minus the
    hits).

    With a bloom pre-filter: definitely-new rows bypass the exact join;
    only maybe-seen rows shuffle against the seen table. Without: plain
    left_anti (Spark's runtime bloom-filter join still kicks in via
    spark.sql.optimizer.runtime.bloomFilter.enabled).

    The bloom test itself picks its physical strategy by size: a bloom
    under ``bloom_broadcast_max_bytes`` broadcasts (no shuffle at all for
    definitely-new rows); a bigger one routes candidates to their shard
    via the cogrouped test.
    """
    if seen is None:
        return candidates
    if blooms is None:
        seen_keys = seen.select(F.col(seen_col).alias(url_col)).distinct()
        return candidates.join(seen_keys, url_col, "left_anti")
    total = blooms.agg(F.sum(F.length("bits"))).first()[0] or 0
    if total <= bloom_broadcast_max_bytes:
        tagged = bloom_tag(candidates, merge_shard_rows(blooms.collect()), url_col, n_partitions)
    else:
        tagged = bloom_maybe_seen(candidates, blooms, url_col, n_partitions=n_partitions)
    return tag_seen(tagged, seen, url_col, seen_col, maybe_col="maybe_seen").filter(
        ~F.col("dedup_hit")
    ).drop("dedup_hit")


def bloom_tag(
    candidates: DataFrame, shards: dict[int, np.ndarray], url_col: str = "url", n_partitions: int = 32
) -> DataFrame:
    """Shuffle-free bloom tag: merged shards broadcast to executors,
    candidates tested in-place by mapInPandas (vectorized numpy).
    ``n_partitions`` must be the shard count the bloom was built with —
    routing uses the identical pmod(murmur3(url)) expression."""
    bc = candidates.sparkSession.sparkContext.broadcast(shards)
    with_part = _with_bloom_keys(candidates, url_col, n_partitions)
    out_schema = T.StructType(
        with_part.schema.fields + [T.StructField("maybe_seen", T.BooleanType())]
    )

    def gen(batches):
        local = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(maybe_seen=pd.Series([], dtype=bool))
                continue
            maybe = np.zeros(len(pdf), dtype=bool)
            h1, h2 = _key_arrays(pdf)
            parts = pdf["bloom_part"].to_numpy()
            for p in np.unique(parts):
                bits = local.get(int(p))
                if bits is None:
                    continue
                sel = parts == p
                pos = _positions(h1[sel], h2[sel], len(bits) * 8)
                hit = (bits[(pos >> 3).astype(np.int64)] >> (pos & 7).astype(np.uint8)) & 1
                maybe[sel] = hit.all(axis=1)
            yield pdf.assign(maybe_seen=maybe)

    return with_part.mapInPandas(gen, out_schema).drop("bloom_part", "_h1", "_h2")
