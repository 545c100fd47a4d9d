"""Snapshot catalog: wave-level checkpoint/resume with lineage.

The design target is an Iceberg catalog (`frontier`, `seen`, `results`,
`images`, `host_state`, `lineage` tables; one snapshot per scheduling
wave; resume = read latest snapshot — mirroring the reference's
resume_state, bfs_strategy.py:166-179).  The Iceberg runtime jar is not
available in-sandbox, so this module provides an API-compatible shim on
parquet + an atomically-renamed JSON manifest; table semantics are kept
Iceberg-shaped so the swap is a config change:

* ``seen`` and ``images`` are **append-only deltas** per wave (never
  rewritten — at 10^10 frontier scale a full rewrite of the seen set per
  wave would dominate the job; appends are O(wave), reads are a
  partition-pruned union of deltas).
* ``frontier`` / ``host_state`` are small per-wave state tables written
  whole (O(open frontier), not O(history)).
* every commit records per-partition lineage
  (wave_id, partition_id, urls_in, urls_out, dedup_hits, fetched,
  failed, duration_ms) — the north-rule metrics table.
* every snapshot records the row count of each table its commit wrote and
  the caller's counters, both taken from Observations on the writes
  themselves (no counting job), in the same atomic manifest rename.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("wave_id", T.IntegerType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("urls_in", T.LongType()),
        T.StructField("urls_out", T.LongType()),
        T.StructField("dedup_hits", T.LongType()),
        T.StructField("fetched", T.LongType()),
        T.StructField("failed", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)


class SnapshotCatalog:
    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(root, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def _read_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"snapshots": []}
        with open(self._manifest_path) as f:
            return json.load(f)

    def _write_manifest(self, manifest: dict) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic commit point

    def snapshots(self) -> list[dict]:
        return self._read_manifest()["snapshots"]

    def latest_snapshot(self) -> dict | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    # -- commit ------------------------------------------------------------
    def commit_wave(
        self,
        wave_id: int,
        state: dict[str, DataFrame] | None = None,
        appends: dict[str, DataFrame] | None = None,
        resets: dict[str, DataFrame] | None = None,
        observations: list[Observation] | None = None,
    ) -> dict:
        """Write a wave's state + deltas, then atomically publish the
        snapshot. A crash before the manifest rename leaves the previous
        snapshot live (same guarantee Iceberg gives via metadata swap).

        ``resets`` rewrites an append-table's whole history as one new
        baseline delta (compaction / format migration — e.g. a bloom
        rebuilt under a new hash scheme); prior delta files stay on disk
        but drop out of the snapshot's read set.

        The snapshot records, with no extra Spark job, ``rows``: the row
        count of every table this commit wrote (state tables keep their
        last count when not rewritten), and ``counters``: the metrics of
        the caller's ``observations`` (Observations attached to the frames
        written here), merged into one name -> int map.  The manifest keeps
        each table's latest schema, for :meth:`read`."""
        snap = {"snapshot_id": wave_id, "wave_id": wave_id, "ts": time.time(), "tables": {}}
        prev = self.latest_snapshot()
        if prev:
            snap["tables"].update(prev["tables"])  # carry forward unreplaced state
            snap["appends"] = {k: list(v) for k, v in prev.get("appends", {}).items()}
            rows = {k: v for k, v in prev.get("rows", {}).items() if k in prev["tables"]}
        else:
            snap["appends"] = {}
            rows = {}

        # the snapshot's tables are independent — write them CONCURRENTLY
        # (Spark actions are thread-safe per session); the manifest rename
        # below stays the single atomic commit point, so a failure in any
        # write still aborts the whole snapshot
        todo: list[tuple] = []
        for name, df in (state or {}).items():
            path = os.path.join(self.root, name, f"snap={wave_id}")
            todo.append((name, df, path))
            snap["tables"][name] = path
        for name, df in (appends or {}).items():
            path = os.path.join(self.root, name, f"wave={wave_id}")
            todo.append((name, df, path))
            snap["appends"].setdefault(name, []).append(path)
        for name, df in (resets or {}).items():
            path = os.path.join(self.root, name, f"reset={wave_id}")
            todo.append((name, df, path))
            snap["appends"][name] = [path]
        # every write counts its own rows: an Observation on the frame
        # being written, so the count rides the write's last stage
        observed = [(name, df, path, Observation()) for name, df, path in todo]
        schemas = {name: df.schema.json() for name, df, _ in todo}
        writes = [(df.observe(obs, F.count(F.lit(1)).alias("rows")), path)
                  for _, df, path, obs in observed]
        if len(writes) > 1:
            with ThreadPoolExecutor(max_workers=min(len(writes), 6)) as ex:
                futures = [ex.submit(_write, df, path) for df, path in writes]
                for f in futures:
                    f.result()  # propagate the first failure before publishing
        else:
            for df, path in writes:
                _write(df, path)
        for name, _, _, obs in observed:
            rows[name] = int(obs.get["rows"])
        snap["rows"] = rows
        counters: dict[str, int] = {}
        for obs in observations or ():
            counters.update({k: int(v or 0) for k, v in obs.get.items()})
        snap["counters"] = counters

        manifest = self._read_manifest()
        manifest["snapshots"].append(snap)
        manifest.setdefault("schemas", {}).update(schemas)
        self._write_manifest(manifest)
        return snap

    # -- read --------------------------------------------------------------
    def read(self, name: str, snapshot: dict | None = None) -> DataFrame | None:
        """The table as of ``snapshot`` (default: the latest).  The schema
        the manifest recorded is passed to the reader, which then skips the
        footer-inference job a bare ``read.parquet`` runs."""
        snap = snapshot or self.latest_snapshot()
        if snap is None:
            return None
        paths = [snap["tables"][name]] if name in snap["tables"] else snap.get("appends", {}).get(name)
        if not paths:
            return None
        reader = self.spark.read
        schema = self._read_manifest().get("schemas", {}).get(name)
        if schema is not None:
            reader = reader.schema(T.StructType.fromJson(json.loads(schema)))
        return reader.parquet(*paths)

    def lineage(self) -> DataFrame:
        df = self.read("lineage")
        if df is None:
            return self.spark.createDataFrame([], LINEAGE_SCHEMA)
        return df


def _write(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def lineage_from_wave(
    wave_id: int,
    frontier_df: DataFrame,
    expanded_df: DataFrame | None,
) -> DataFrame:
    """Per-partition lineage aggregate for one wave.

    `urls_in` / `fetched` / `failed` count ``frontier_df`` rows per
    partition (``status`` FAILED or not); `urls_out` / `dedup_hits` count
    the expansion rows per partition, tagged with the ``dedup_hit``
    boolean the seen-set probe set (True: already seen).  Both inputs are
    tagged with their own partition id and folded by ONE aggregation, so
    a wave's lineage costs one shuffle.  `duration_ms` is 0: a partition
    has no wall time of its own (the wave's is in ``WaveStats``).
    """
    zero = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    parts = [
        frontier_df.select(
            F.spark_partition_id().alias("partition_id"),
            one.alias("urls_in"),
            zero.alias("urls_out"),
            zero.alias("dedup_hits"),
            F.when(F.col("status") != "FAILED", one).otherwise(zero).alias("fetched"),
            F.when(F.col("status") == "FAILED", one).otherwise(zero).alias("failed"),
        )
    ]
    if expanded_df is not None:
        parts.append(
            expanded_df.select(
                F.spark_partition_id().alias("partition_id"),
                zero.alias("urls_in"),
                F.when(~F.col("dedup_hit"), one).otherwise(zero).alias("urls_out"),
                F.when(F.col("dedup_hit"), one).otherwise(zero).alias("dedup_hits"),
                zero.alias("fetched"),
                zero.alias("failed"),
            )
        )
    rows = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    return rows.groupBy("partition_id").agg(
        *[F.sum(c).cast("long").alias(c) for c in ("urls_in", "urls_out", "dedup_hits", "fetched", "failed")]
    ).select(
        F.lit(wave_id).cast("int").alias("wave_id"),
        F.col("partition_id").cast("int"),
        "urls_in", "urls_out", "dedup_hits", "fetched", "failed",
        zero.alias("duration_ms"),
    )
