"""Streaming sinks (SURVEY.md A3/A4 — the reference's Mongo upsert, R8).

The reference holds a "current values" table: one document per tag,
``ReplaceOneAsync(filter={tag}, IsUpsert=true)`` into a collection per
server (reference: OPC2MongoDB/Program.cs:1159, :1179-1182) — one awaited
RPC per record, single consumer (§6: the bottleneck).

Spark-first replacement: ``foreachBatch`` merges each micro-batch into a
keyed parquet state store, partitioned by server (A4: the
collection-per-server routing becomes partitionBy). Per batch:

    new_state[touched] = last_value_per_key(old_state[touched] ∪ batch)

(partition-pruned: only server partitions present in the batch are read or
rewritten — bulk, vectorized)

At scale the state store is a transactional Delta MERGE when ``delta-spark``
is importable (``backend="auto"``); the parquet staging-swap below is the
stand-in for environments without a lakehouse format — correct, but its
``os.rename`` directory swap assumes a POSIX filesystem (atomic rename).
On object storage (S3/GCS) rename is copy+delete and non-atomic: use the
Delta backend there.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from opc2mongodb_spark.operators.last_value import last_value_per_key


def delta_available() -> bool:
    """True when the delta-spark package is importable (not installed in the
    test sandbox — the Delta code path is exercised wherever it is)."""
    try:
        import delta  # noqa: F401  # pragma: no cover - delta absent here

        return True  # pragma: no cover - delta absent here
    except ImportError:
        return False


class CurrentValuesStore:
    """Keyed last-value store: one row per (server, tag).

    ``backend``: "auto" (Delta when importable, else parquet), "delta", or
    "parquet". Both backends implement the same upsert contract: after
    ``merge_batch``, the store holds each key's row with the greatest
    ``order_col`` seen so far (ties: batch wins).
    """

    def __init__(
        self,
        path: str,
        key_cols: tuple[str, ...] = ("server", "tag"),
        order_col: str = "serverTimestamp",
        backend: str = "auto",
        parquet_codec: str = "zstd",
    ) -> None:
        if backend == "auto":
            backend = "delta" if delta_available() else "parquet"
        if backend not in ("delta", "parquet"):
            raise ValueError(f"unknown backend {backend!r}")
        if backend == "delta" and not delta_available():
            raise ImportError(
                "backend='delta' requires the delta-spark package"
            )
        self.path = path
        self.key_cols = list(key_cols)
        self.order_col = order_col
        self.backend = backend
        # Codec for the parquet backend's state writes (r13: interleaved
        # snappy-vs-zstd A/B on the sink's own lane, SINK_CODEC_AB_r13.json
        # — per-batch time flat at p50 0.880 vs 0.882 s, state identical,
        # 45% fewer on-disk bytes; the state is re-read on every touched-
        # partition merge, so the ratio side pays every batch). Override
        # via the constructor or conf spark.sparkGraft.sinkParquetCodec.
        self.parquet_codec = parquet_codec

    def read(
        self, spark: SparkSession, schema: StructType | None = None
    ) -> DataFrame | None:
        """The stored table, or None before the first merge. ``schema``
        (parquet backend) skips schema inference."""
        if not os.path.exists(self.path):
            return None
        if self.backend == "delta":
            return spark.read.format("delta").load(self.path)  # pragma: no cover - delta absent here
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(self.path)

    def merge_batch(self, batch: DataFrame) -> None:
        if self.backend == "delta":
            self._merge_batch_delta(batch)  # pragma: no cover - delta absent here
        else:
            self._merge_batch_parquet(batch)

    def _merge_batch_delta(self, batch: DataFrame) -> None:  # pragma: no cover - delta absent here; contract mirrored by tests/test_delta_backend.py when installed
        """Transactional upsert — the 100 TB path. The batch collapses to its
        latest row per key, then ONE ``MERGE`` on the key upserts it; the
        ``whenMatched`` condition keeps the stored row when it is newer, so
        replayed/out-of-order batches cannot regress state. Atomicity,
        concurrent readers, and object-store safety come from the table
        format — no staging swap, no rename assumptions."""
        from delta.tables import DeltaTable

        spark = batch.sparkSession
        latest = last_value_per_key(batch, self.key_cols, self.order_col)
        if not DeltaTable.isDeltaTable(spark, self.path):
            (
                latest.write.format("delta")
                .partitionBy(self.key_cols[0])
                .save(self.path)
            )
            return
        target = DeltaTable.forPath(spark, self.path)
        on = " AND ".join(f"t.{c} <=> s.{c}" for c in self.key_cols)
        (
            target.alias("t")
            .merge(latest.alias("s"), on)
            .whenMatchedUpdateAll(
                condition=f"s.{self.order_col} >= t.{self.order_col}"
            )
            .whenNotMatchedInsertAll()
            .execute()
        )

    def _merge_batch_parquet(self, batch: DataFrame) -> None:
        """Upsert a micro-batch, rewriting ONLY the server partitions present
        in the batch (partition-pruned merge — the parquet stand-in for the
        Delta MERGE above). Untouched server partitions are never read nor
        rewritten: the read is partition-pruned by the isin filter, and the
        swap moves only the staged ``server=...`` directories into place.
        O(touched state) per batch instead of O(total state).

        POSIX-only: the final ``os.rename`` swap relies on atomic directory
        rename; do not point this backend at object storage."""
        spark = batch.sparkSession
        pcol = self.key_cols[0]
        # Two actions follow (the touched-server scan and the staged write).
        # Inside foreachBatch each action on ``batch`` re-executes the whole
        # micro-batch plan — source read AND stateful-operator access — so
        # without a persist the upstream pipeline runs twice per batch
        # (measured at ~2x the merge's cost at r11). Pin it once.
        batch = batch.persist()
        try:
            self._merge_persisted(batch, spark, pcol)
        finally:
            batch.unpersist()

    def _merge_persisted(self, batch: DataFrame, spark, pcol: str) -> None:
        import shutil

        from pyspark.sql import functions as F

        servers = [r[0] for r in batch.select(pcol).distinct().collect()]
        if not servers:
            return
        # The batch's schema is the store's: reading with it skips the
        # footer-inference job a schema-less parquet read runs per batch.
        # Partition columns come back last, so restore the batch's order.
        existing = self.read(spark, schema=batch.schema)
        if existing is not None:
            existing = existing.select(*batch.columns)
        # _src tiebreak: on an order_col tie the BATCH row wins — the same
        # semantics as the Delta MERGE's `s.order >= t.order` condition, and
        # deterministic (max_by alone picks an arbitrary row on ties).
        batch = batch.withColumn("_src", F.lit(1))
        if existing is not None:
            merged = (
                existing.filter(F.col(pcol).isin(servers))
                .withColumn("_src", F.lit(0))
                .unionByName(batch)
            )
        else:
            merged = batch
        latest = last_value_per_key(
            merged, self.key_cols, self.order_col, tiebreak_cols=["_src"]
        ).drop("_src")

        tmp = self.path + "._staging"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        # Writer parallelism: one task per touched server partition, capped
        # by the cluster's core count (a hard-coded writer count would
        # serialize the rewrite when many partitions are touched). The
        # repartition ON the partition column also lands each server's rows
        # in a single task -> one file per server directory.
        n_writers = max(
            1, min(spark.sparkContext.defaultParallelism, len(servers))
        )
        # Executing the write fully materializes the merged partitions before
        # any directory under self.path is mutated.
        codec = (
            spark.conf.get("spark.sparkGraft.sinkParquetCodec", None)
            or self.parquet_codec
        )
        (
            latest.repartition(n_writers, F.col(pcol))
            .write.mode("overwrite")
            .option("compression", codec)
            .partitionBy(pcol)
            .parquet(tmp)
        )

        os.makedirs(self.path, exist_ok=True)
        for entry in os.listdir(tmp):
            if not entry.startswith(f"{pcol}="):
                continue
            dst = os.path.join(self.path, entry)
            if os.path.exists(dst):
                shutil.rmtree(dst)
            os.rename(os.path.join(tmp, entry), dst)
        shutil.rmtree(tmp)

    def foreach_batch(self, batch: DataFrame, batch_id: int) -> None:
        self.merge_batch(batch)


def upsert_query(
    opc_stream: DataFrame,
    store: CurrentValuesStore,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
):
    """writeStream wiring for the current-values upsert (A3+A4).

    ``trigger_seconds`` maps the reference's per-server ``read_period``
    (conf column READ_PERIOD, Program.cs:1281) onto the micro-batch trigger.
    Retry/reconnect (R10) is checkpoint + restart — no custom loops.

    Callers that know the topology's key cardinality (the .conf declares
    every tag) should start the returned query inside
    ``streaming.pipeline.state_partitioning(spark, n_keys)`` — the
    stateful partition count is pinned at first batch, and the batch-query
    default over-partitions small bridges (r11: 32 state commits per
    micro-batch to maintain 1,200 keys).
    """
    writer = (
        opc_stream.writeStream.outputMode("append")
        .foreachBatch(store.foreach_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer


class MongoBulkUpsertSink:
    """foreachBatch adapter: one ReplaceOne-shaped upsert per key per
    micro-batch, bulk-issued per partition through an injectable client.

    The reference awaits one ``ReplaceOneAsync(filter={tag}, IsUpsert=true)``
    RPC per record on a single consumer thread (reference: OPC2MongoDB/
    Program.cs:1159, :1179-1182 — §6's bottleneck). Here each micro-batch is
    first collapsed to the latest value per key (so at most ONE replace per
    changed key per batch), rendered engine-side by ``to_mongo_documents``,
    then written with one bulk call per (partition, collection).

    ``client_factory()`` runs ON THE EXECUTOR, once per partition (the
    pymongo pattern — clients don't pickle; construct where you write). It
    must return an object with ``bulk_replace(collection, ops)`` where ops is
    a list of ``(key, doc_json)``, and optionally ``close()``. No MongoDB
    exists in this environment, so tests inject a spool-directory fake; a
    real deployment wraps ``pymongo.MongoClient`` mapping each op to
    ``ReplaceOne({'tag': key}, json.loads(doc_json), upsert=True)``.
    """

    def __init__(
        self,
        client_factory,
        key_cols: tuple[str, ...] = ("server", "tag"),
        order_col: str = "serverTimestamp",
    ) -> None:
        self.client_factory = client_factory
        self.key_cols = list(key_cols)
        self.order_col = order_col

    def foreach_batch(self, batch: DataFrame, batch_id: int) -> None:
        latest = last_value_per_key(batch, self.key_cols, self.order_col)
        docs = to_mongo_documents(latest)
        factory = self.client_factory

        def _write_partition(rows) -> None:  # pragma: worker
            from collections import defaultdict

            by_collection: dict[str, list] = defaultdict(list)
            for r in rows:
                by_collection[r.collection].append((r.key, r.doc_json))
            if not by_collection:
                return
            client = factory()
            try:
                for collection, ops in by_collection.items():
                    client.bulk_replace(collection, ops)
            finally:
                close = getattr(client, "close", None)
                if close is not None:
                    close()

        docs.foreachPartition(_write_partition)


def pymongo_available() -> bool:
    """True when the pymongo package is importable (not installed in the
    test sandbox — the real-wire code path is exercised wherever it is)."""
    try:
        import pymongo  # noqa: F401  # pragma: no cover - pymongo absent here

        return True  # pragma: no cover - pymongo absent here
    except ImportError:
        return False


class PymongoClientFactory:
    """Executor-side REAL-MongoDB client factory for ``MongoBulkUpsertSink``
    (r7 VERDICT #4 — the wire adapter behind the injectable-fake contract).

    Picklable: carries only the connection URL + database name; the
    ``MongoClient`` is constructed where the partition writes (pymongo
    clients hold sockets/locks and must never cross process boundaries —
    the documented fork-safety rule). Import-guarded like
    ``delta_available``: constructing the factory is always safe; CALLING
    it without pymongo raises ImportError.

    Each (key, doc_json) op becomes
    ``ReplaceOne({'tag': key}, json.loads(doc_json), upsert=True)`` — the
    exact request the reference awaits once per record
    (OPC2MongoDB/Program.cs:1179-1182) — issued as ONE unordered
    ``bulk_write`` per (collection, partition, batch): identical idempotent
    upsert semantics, one RPC round-trip where the reference pays N.

    ``database=None`` resolves the default database from the URL path
    (the reference's ``mongodb://host/db`` conf line, Program.cs:1229).
    """

    def __init__(self, mongo_url: str, database: str | None = None) -> None:
        self.mongo_url = mongo_url
        self.database = database

    def __call__(self):
        if not pymongo_available():
            raise ImportError(
                "PymongoClientFactory requires the pymongo package; inject "
                "a fake client factory (bulk_replace/close) to test without it"
            )
        import pymongo  # pragma: no cover - pymongo absent here

        client = pymongo.MongoClient(self.mongo_url)  # pragma: no cover - pymongo absent here
        db = (  # pragma: no cover - pymongo absent here
            client[self.database]
            if self.database
            else client.get_default_database()
        )
        return PymongoBulkClient(client, db)  # pragma: no cover - pymongo absent here


class PymongoBulkClient:
    """``bulk_replace``/``close`` contract over a (real or injected)
    MongoClient: builds the ReplaceOne request set and issues one unordered
    bulk_write per collection call. Split from the factory so the
    request-building logic is testable with an injected fake client."""

    def __init__(self, client, database) -> None:
        self._client = client
        self._database = database

    def bulk_replace(self, collection: str, ops) -> None:
        import json as _json

        from pymongo import ReplaceOne

        requests = [
            ReplaceOne({"tag": key}, _json.loads(doc_json), upsert=True)
            for key, doc_json in ops
        ]
        if requests:
            self._database[collection].bulk_write(requests, ordered=False)

    def close(self) -> None:
        self._client.close()


def mongo_upsert_query(
    opc_stream: DataFrame,
    sink: MongoBulkUpsertSink,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
):
    """writeStream wiring for the Mongo bulk-upsert document sink (A3)."""
    writer = (
        opc_stream.writeStream.outputMode("append")
        .foreachBatch(sink.foreach_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer


def to_mongo_documents(opc_values: DataFrame) -> DataFrame:
    """Render current-values rows as the reference's exact Mongo document
    shape (reference: OPC2MongoDB/Program.cs:1162-1172 — 8 fields, tag as
    the upsert key, collection per server):

        {tag, dataType, doubleValue, boolValue, stringValue,
         sourceTimestamp, serverTimestamp, quality}

    Returned as (collection, key, doc_json) rows — what a foreachBatch Mongo
    bulkWrite adapter would send one ReplaceOne per row of; the JSON is
    engine-built (to_json), no Python in the loop."""
    from pyspark.sql import functions as F

    return opc_values.select(
        F.col("server").alias("collection"),
        F.col("tag").alias("key"),
        F.to_json(
            F.struct(
                "tag",
                "dataType",
                "doubleValue",
                "boolValue",
                "stringValue",
                "sourceTimestamp",
                "serverTimestamp",
                "quality",
            )
        ).alias("doc_json"),
    )
