"""Warehouse: partitioned parquet tables with per-stage resume.

Tables are laid out as parquet `partitionBy` directories that mirror the
Iceberg partition spec (partition filters on repo bucket / lang / pred
prune the same way). A real Iceberg sink can return once an
iceberg-spark-runtime jar and a caller for it exist.

`stage` is the one stage runner: it decides skip-vs-write, writes the
table, writes the `<table>._manifest.json` sidecar once (stage name, row
count, input sha range, wall time, schema, plus the operator's own keys)
and reads the table back. The manifest is written only after a
successful write, and the resume check keys off it.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def stage(
        self,
        name: str,
        make,
        resume: bool,
        partition_by: list[str] | None = None,
        rebalance: bool = True,
        extra: dict | None = None,
    ) -> tuple[DataFrame, dict]:
        """Run one stage → (table read back, metrics).

        With `resume`, a complete stage is skipped and its manifest
        returned with `resumed: True`. `extra` is a dict `make()` fills
        (the path its operator took); it is merged into the one manifest
        write, so a resumed run reports the same keys. The metrics add
        `stage_wall_sec` (make + write), which is not persisted."""
        t0 = time.time()
        if resume and self.is_complete(name):
            return self.read(name), {**self.manifest(name), "resumed": True}
        manifest = {**self._write(make(), name, partition_by, rebalance), **(extra or {})}
        p = self._path(f"{name}._manifest.json")
        with open(p + ".tmp", "w") as fh:  # atomic: tmp + rename
            json.dump(manifest, fh, indent=2)
        os.replace(p + ".tmp", p)
        metrics = {**manifest, "stage_wall_sec": round(time.time() - t0, 3)}
        return self.read(name), metrics

    def _write(self, df: DataFrame, name: str, partition_by, rebalance: bool) -> dict:
        """Overwrite the table and return its manifest (not yet persisted).

        Output file sizing: by default an AQE REBALANCE hint sizes the
        final partitions to advisoryPartitionSizeInBytes regardless of
        cluster width — commit metadata cost scales with file count, and
        one-file-per-task-slot inverts scaling at high core counts."""
        t0 = time.time()
        # crash consistency: a manifest from a PREVIOUS run must not
        # survive into this overwrite — if the job dies mid-write, the
        # stale manifest would make is_complete() trust partial data on
        # the next resume. Remove first; it is rewritten only on success.
        try:
            os.remove(self._path(f"{name}._manifest.json"))
        except FileNotFoundError:
            pass
        if rebalance:
            # rebalance by the partition columns so each output partition
            # holds one partition-value slice (otherwise every task writes
            # a file per partition value: tasks x values files)
            df = df.hint("rebalance", *partition_by) if partition_by else df.hint("rebalance")
        # row count + sha lineage range observed DURING the write job —
        # the previous read-back aggregation re-scanned the whole table
        # after every stage (a serial floor that caps scaling efficiency:
        # at n=1M it re-read ~1 GB per heavy stage)
        has_sha = "content_sha256" in df.columns
        aggs = [F.count(F.lit(1)).alias("n")]
        if has_sha:
            aggs += [F.min("content_sha256").alias("lo"), F.max("content_sha256").alias("hi")]
        obs = Observation()
        df = df.observe(obs, *aggs)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(name))
        # persist the schema so empty tables (no part files) stay readable
        # (the observe node's schema is identical to the data schema)
        with open(self._path(f"{name}._schema.json"), "w") as fh:
            fh.write(df.schema.json())
        stats = obs.get
        n = stats["n"]
        # NOTE: do not os.sync() here — sync(2) is machine-wide and blocks
        # on OTHER tenants' dirty pages in this shared sandbox (measured
        # random 5-200s stage stalls); writeback interference is the
        # lesser evil
        wall = round(time.time() - t0, 3)
        return {
            "table": name,
            "rows": n,
            "partition_by": partition_by or [],
            "schema": df.schema.simpleString(),
            "sha256_range": [stats["lo"], stats["hi"]] if has_sha else None,
            "wall_sec": wall,
            # per-stage throughput (north-rule lineage + metrics contract)
            "rows_per_sec": round(n / wall, 1) if wall > 0 else None,
            "written_at": time.time(),
        }

    def read(self, name: str) -> DataFrame:
        schema_path = self._path(f"{name}._schema.json")
        if os.path.exists(schema_path):
            with open(schema_path) as fh:
                schema = StructType.fromJson(json.loads(fh.read()))
            return self.spark.read.schema(schema).parquet(self._path(name))
        return self.spark.read.parquet(self._path(name))

    def manifest(self, name: str) -> dict | None:
        p = self._path(f"{name}._manifest.json")
        if os.path.exists(p):
            with open(p) as fh:
                return json.load(fh)
        return None

    def is_complete(self, name: str) -> bool:
        """A stage can be skipped on resume iff its manifest exists (the
        manifest is written only after a successful write) AND the data
        directory is still there — an operator clearing a stage dir by
        hand (without its sibling manifest) must trigger recompute, not
        a PATH_NOT_FOUND crash on the resume read."""
        return self.manifest(name) is not None and os.path.isdir(self._path(name))
