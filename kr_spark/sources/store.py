"""TripleStore — the storage seam (SURVEY §4.4).

Primary design target is Iceberg (`bucket(N, p)` partition transform, MERGE
INTO for idempotent append, snapshot metadata for resume). The Iceberg
runtime jar is not in this image, so the default implementation is plain
parquet with identical directory partitioning (`p_bucket=<i>/`) plus a JSON
manifest standing in for snapshot metadata. The interface is the contract;
swapping in Iceberg touches only this module.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kr_spark.kb import TRIPLE_KEY, TRIPLE_SCHEMA


def iceberg_available(spark: SparkSession) -> bool:
    try:
        # py4j package traversal never raises (it returns JavaPackage
        # stubs), so force an actual classload
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")  # noqa: SLF001
        return True
    except Exception:
        return False


DEFAULT_PRED_BUCKETS = 16
MANIFEST = "manifest.json"
# the stored columns: the triple plus its partition column
STORED_SCHEMA = T.StructType(TRIPLE_SCHEMA.fields + [T.StructField("p_bucket", T.LongType())])


class ParquetTripleStore:
    """Pred-bucketed parquet triple store with snapshot manifest.

    The layout (`pred_buckets`) of an existing store is the one its manifest
    records; `None` takes it, and a different explicit value is refused, so
    every writer hashes a predicate to the bucket its readers prune to. A new
    store uses DEFAULT_PRED_BUCKETS unless told otherwise. `snapshot` is the
    manifest's snapshot id when this handle was opened (0 for no manifest);
    every write through the handle advances it to the id it commits.
    """

    def __init__(
        self, spark: SparkSession, path: str, pred_buckets: int | None = None
    ) -> None:
        self.spark = spark
        self.path = path
        manifest = self._manifest()
        stored = manifest.get("pred_buckets")
        if stored is not None and pred_buckets is not None and pred_buckets != stored:
            raise ValueError(
                f"store {path} is laid out in {stored} predicate buckets, "
                f"not {pred_buckets}"
            )
        self.pred_buckets = stored or pred_buckets or DEFAULT_PRED_BUCKETS
        self.snapshot = manifest.get("snapshot", 0)

    def _manifest(self) -> dict:
        try:
            with open(os.path.join(self.path, MANIFEST)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def _bucket(self, p) -> Column:
        return F.pmod(F.xxhash64(p), F.lit(self.pred_buckets))

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn("p_bucket", self._bucket(F.col("p")))

    def exists(self) -> bool:
        return os.path.isdir(os.path.join(self.path, "data"))

    def _scan(self) -> DataFrame:
        # the known schema skips parquet's footer-reading inference job and
        # reads a store with no partitions yet as empty
        return self.spark.read.schema(STORED_SCHEMA).parquet(os.path.join(self.path, "data"))

    def read(self) -> DataFrame:
        return self._scan().drop("p_bucket")

    def _read_predicates(self, preds: list[str]) -> DataFrame:
        """The stored triples of `preds`, read from their p_bucket partitions
        only: the bucket of a literal predicate constant-folds, so the filter
        becomes a partition filter and runs no job."""
        buckets = [self._bucket(F.lit(p)) for p in preds]
        return (
            self._scan()
            .filter(F.col("p_bucket").isin(*buckets) & F.col("p").isin(*preds))
            .drop("p_bucket")
        )

    def overwrite(self, df: DataFrame) -> None:
        """Replace the store with `df`."""
        out = self._with_bucket(df.select(*TRIPLE_SCHEMA.fieldNames()))
        (
            out.repartition(self.pred_buckets, "p_bucket")
            .sortWithinPartitions("p", "s")  # merge-friendly scans (SURVEY §4.4)
            .write.mode("overwrite")
            .partitionBy("p_bucket")
            .parquet(os.path.join(self.path, "data"))
        )
        self._snapshot("overwrite")

    def append_idempotent(self, df: DataFrame) -> None:
        """MERGE-INTO stand-in: add the triples of `df` the store lacks.

        Against an existing store, set semantics is the store's own check,
        whatever the caller hands over: `df` is deduplicated and anti-joined
        against the stored triples of its predicates, read from their
        p_bucket partitions only (one small job collects the predicates). An
        empty `df` writes nothing and leaves the manifest alone. The first
        write to a new path stores `df` through `overwrite` with no dedup
        shuffle, so it must already be a set (KB.save compacts unchecked
        adds first)."""
        from kr_spark.kb import anti_join_null_safe

        new = df.select(*TRIPLE_SCHEMA.fieldNames())
        if not self.exists():
            self.overwrite(new)
            return
        preds = sorted(r.p for r in new.select("p").distinct().collect())
        if not preds:
            return
        fresh = anti_join_null_safe(
            new.dropDuplicates(TRIPLE_KEY), self._read_predicates(preds), TRIPLE_KEY
        )
        self._with_bucket(fresh).write.mode("append").partitionBy("p_bucket").parquet(
            os.path.join(self.path, "data")
        )
        self._snapshot("append")

    def _snapshot(self, op: str) -> None:
        """Advance the snapshot id and publish the manifest atomically: a
        reader sees the old manifest or the new one, never a torn file."""
        os.makedirs(self.path, exist_ok=True)
        self.snapshot = self._manifest().get("snapshot", 0) + 1
        manifest = {
            "op": op,
            "ts": time.time(),
            "snapshot": self.snapshot,
            "pred_buckets": self.pred_buckets,
            "format": "parquet",
        }
        final = os.path.join(self.path, MANIFEST)
        tmp = f"{final}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, final)

    def scan_predicate(self, p: str) -> DataFrame:
        """Partition-pruned scan for a predicate-constant pattern: only the
        matching p_bucket directory is read."""
        # compute the bucket driver-side with the same hash
        bucket = self.spark.range(1).select(self._bucket(F.lit(p)).alias("b")).collect()[0].b
        path = os.path.join(self.path, "data", f"p_bucket={bucket}")
        return self.spark.read.parquet(path).filter(F.col("p") == p)


class IcebergTripleStore:
    """Iceberg-backed store — the primary design target (SURVEY §4.4):
    `bucket(N, p)` partition transform, MERGE INTO for idempotent append,
    snapshot metadata for resume. Same interface as ParquetTripleStore but
    addressed by TABLE IDENTIFIER (catalog.db.table), not path.

    Requires iceberg-spark-runtime on the classpath and a configured
    catalog — absent from this image, so only the SQL-generation methods are
    unit-tested here; the execution paths run wherever the jar exists.
    """

    def __init__(
        self, spark: SparkSession, table: str, pred_buckets: int | None = None
    ) -> None:
        self.spark = spark
        self.table = table
        self.pred_buckets = pred_buckets or DEFAULT_PRED_BUCKETS

    # ---- pure SQL generation (unit-testable without the runtime) ----
    def create_sql(self) -> str:
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in TRIPLE_SCHEMA.fields
        )
        return (
            f"CREATE TABLE IF NOT EXISTS {self.table} ({cols}) USING iceberg "
            f"PARTITIONED BY (bucket({self.pred_buckets}, p)) "
            f"TBLPROPERTIES ('write.distribution-mode'='hash', "
            f"'sort-order'='p ASC, s ASC')"
        )

    def merge_sql(self, source_view: str) -> str:
        """Idempotent append as a single MERGE (null-safe key equality —
        o_lang/o_datatype/graph are nullable key parts)."""
        on = " AND ".join(f"t.{c} <=> s.{c}" for c in TRIPLE_KEY)
        return (
            f"MERGE INTO {self.table} t USING {source_view} s ON {on} "
            f"WHEN NOT MATCHED THEN INSERT *"
        )

    # ---- execution paths (need the Iceberg runtime) ----
    def exists(self) -> bool:
        return self.spark.catalog.tableExists(self.table)

    def ensure(self) -> None:
        self.spark.sql(self.create_sql())

    def read(self) -> DataFrame:
        return self.spark.table(self.table)

    def overwrite(self, df: DataFrame) -> None:
        self.ensure()
        out = df.select(*TRIPLE_SCHEMA.fieldNames())
        out.createOrReplaceTempView("__kr_overwrite_src")
        self.spark.sql(f"INSERT OVERWRITE {self.table} SELECT * FROM __kr_overwrite_src")

    def append_idempotent(self, df: DataFrame) -> None:
        self.ensure()
        new = df.select(*TRIPLE_SCHEMA.fieldNames()).dropDuplicates(TRIPLE_KEY)
        new.createOrReplaceTempView("__kr_merge_src")
        self.spark.sql(self.merge_sql("__kr_merge_src"))

    def scan_predicate(self, p: str) -> DataFrame:
        # Iceberg prunes bucket(p) partitions from the p = const predicate
        # automatically — no driver-side bucket math needed
        return self.spark.table(self.table).filter(F.col("p") == p)


def open_store(
    spark: SparkSession,
    path: str,
    pred_buckets: int | None = None,
    iceberg_table: str | None = None,
):
    """Factory: the Iceberg store when a table identifier is given and the
    runtime is on the classpath; the layout-identical parquet store
    otherwise."""
    if iceberg_table is not None and iceberg_available(spark):
        return IcebergTripleStore(spark, iceberg_table, pred_buckets)  # pragma: no cover
    return ParquetTripleStore(spark, path, pred_buckets)
