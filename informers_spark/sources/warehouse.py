"""Warehouse: partitioned table IO with an Iceberg↔parquet switch.

On a real cluster with iceberg-spark-runtime on the classpath, tables go
through `writeTo(...).partitionedBy(...)` against the configured catalog.
In this sandbox (no Iceberg jar) the same partition spec is laid out as
parquet `partitionBy` directories — identical pruning behavior for the
query patterns we use (partition filters on repo bucket / lang).

Every write also drops a `_manifest.json` sidecar: stage name, row count,
input sha range, wall time, schema — the per-partition lineage + metrics
the north rule requires, and the `resumable()` check keys off it.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _iceberg_available(spark: SparkSession) -> bool:
    # py4j gotcha: attribute access on a missing JVM class silently
    # yields a JavaPackage and never raises — probe with Class.forName,
    # which actually throws when the jar is absent
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class Warehouse:
    def __init__(self, spark: SparkSession, root: str, catalog: str | None = None):
        self.spark = spark
        self.root = root
        self.use_iceberg = catalog is not None and _iceberg_available(spark)
        self.catalog = catalog
        os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def write(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        mode: str = "overwrite",
        rebalance: bool = True,
    ) -> dict:
        """Output file sizing: by default an AQE REBALANCE hint sizes the
        final partitions to advisoryPartitionSizeInBytes regardless of
        cluster width — commit metadata cost scales with file count, and
        one-file-per-task-slot inverts scaling at high core counts."""
        from pyspark.sql import Observation

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
        if self.use_iceberg:
            if mode == "append":
                # honor the mode the parquet path honors — silently
                # replacing on append would lose data on a real catalog
                df.writeTo(f"{self.catalog}.{name}").append()
            else:
                writer = df.writeTo(f"{self.catalog}.{name}").using("iceberg")
                if partition_by:
                    writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
                writer.createOrReplace()
        else:
            w = df.write.mode(mode)
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(self._path(name))
        # persist the schema so empty tables (no part files) stay readable
        # (strip the observe node's schema is identical to the data schema)
        with open(self._path(f"{name}._schema.json"), "w") as fh:
            fh.write(df.schema.json())
        stats = obs.get
        n = stats["n"]
        sha_range = [stats["lo"], stats["hi"]] if has_sha else None
        # NOTE: do not os.sync() here — sync(2) is machine-wide and blocks
        # on OTHER tenants' dirty pages in this shared sandbox (measured
        # random 5-200s stage stalls); writeback interference is the
        # lesser evil
        wall = round(time.time() - t0, 3)
        manifest = {
            "table": name,
            "rows": n,
            "partition_by": partition_by or [],
            "schema": df.schema.simpleString(),
            "sha256_range": sha_range,
            "wall_sec": wall,
            # per-stage throughput (north-rule lineage + metrics contract)
            "rows_per_sec": round(n / wall, 1) if wall > 0 else None,
            "written_at": time.time(),
        }
        return self._put_manifest(manifest)

    def write_bucketed(
        self,
        df: DataFrame,
        name: str,
        bucket_cols: list[str],
        n_buckets: int = 16,
        sort_cols: list[str] | None = None,
        mode: str = "overwrite",
    ) -> dict:
        """Bucketed external table (the parquet analog of SURVEY §1.2's
        Iceberg `bucket(N, repo)` spec): rows hash-partitioned into
        n_buckets files by bucket_cols, optionally sorted within each
        bucket. Two tables bucketed on the SAME keys with the SAME count
        join with NO exchange on either side (asserted in
        tests/test_plans.py) — the co-located-join layout that removes
        the shuffle from every downstream join on those keys at 100 TB.
        Bucket metadata lives in the session catalog (saveAsTable), so
        reads must go through read_table(), not the path."""
        t0 = time.time()
        # one file per bucket: pre-shuffle by the bucket keys so each
        # writer task holds whole buckets (otherwise tasks x buckets files)
        w = (
            df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
            .write.mode(mode)
            .format("parquet")
            .option("path", self._path(name))
            .bucketBy(n_buckets, *bucket_cols)
        )
        if sort_cols:
            w = w.sortBy(*sort_cols)
        w.saveAsTable(name)
        n = self.spark.table(name).count()
        manifest = {
            "table": name,
            "rows": n,
            "bucket_by": bucket_cols,
            "n_buckets": n_buckets,
            "sort_by": sort_cols or [],
            "schema": df.schema.simpleString(),
            "wall_sec": round(time.time() - t0, 3),
            "written_at": time.time(),
        }
        return self._put_manifest(manifest)

    def read_table(self, name: str) -> DataFrame:
        """Catalog read for bucketed tables (bucket metadata does not
        survive a bare path read)."""
        return self.spark.table(name)

    def read(self, name: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.read.table(f"{self.catalog}.{name}")
        schema_path = self._path(f"{name}._schema.json")
        if os.path.exists(schema_path):
            from pyspark.sql.types import StructType

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

    def annotate(self, name: str, keys: dict) -> dict:
        """Merge additive `keys` (e.g. the path an operator took) into a
        written table's manifest, so a resumed run reads them back."""
        return self._put_manifest({**self.manifest(name), **keys})

    def _put_manifest(self, manifest: dict) -> dict:
        """Write `<table>._manifest.json` atomically (tmp + rename)."""
        p = self._path(f"{manifest['table']}._manifest.json")
        with open(p + ".tmp", "w") as fh:
            json.dump(manifest, fh, indent=2)
        os.replace(p + ".tmp", p)
        return manifest

    def is_complete(self, name: str) -> bool:
        """A stage can be skipped on resume iff its manifest exists (the
        manifest is written only after a successful write) AND the data
        directory is still there — an operator clearing a stage dir by
        hand (without its sibling manifest) must trigger recompute, not
        a PATH_NOT_FOUND crash on the resume read."""
        return self.manifest(name) is not None and os.path.isdir(self._path(name))
