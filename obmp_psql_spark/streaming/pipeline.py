"""Structured Streaming ingest (reference hot path: Kafka consumer ->
writer threads -> bulk upsert, ConsumerRunnable.java +
WriterRunnable.java; SURVEY §2.8, §3.1).

Spark shape: one stream per message type ->
``foreachBatch(apply_<type>)`` against the state store. The micro
-batch IS the reference's 300 ms/3000-row writer batch (T1); the
within-batch ``dedup_latest`` in each apply function IS its
state-compression map (T2/A9); checkpointing replaces Kafka group
offsets (T8); MERGE idempotency + the batch-id guard replace the
attr dedup cache (T5/J10).

Kafka is the production source (sources/kafka.py); tests drive the
same pipeline from a file stream — the sink logic is identical, which
is the point of foreachBatch.

Ordering note (SURVEY §7 known-hard #2): the reference serializes
per-peer via sticky consumer threads; here control messages
(collector/router/peer) are applied by their own streams, and within
a micro-batch the apply functions handle ordering (e.g. the peer
flush uses timestamp guards, so a prefix newer than the peer-up
survives regardless of apply order). Cross-batch eventual consistency
matches the reference's cross-thread behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import ingest, ingest_ls
from ..operators.merge import conditional_rib_merge
from ..schemas import MESSAGE_SCHEMAS
from ..state import TxnStateStore, bucket_of
# module-level name so bmpbench/trace.py can patch it to time the
# concurrent log + state staging
from ..state import stage_concurrently as _stage_concurrently


def _policy_merge(policy):
    return lambda state, src, materialize_join: conditional_rib_merge(
        state, src, policy, materialize_join)


# Bucket key order is part of each table's on-disk layout: Murmur3
# depends on column order, and stores record it as ``key_cols``.
_IP_RIB_KEY = ["peer_hash_id", "hash_id"]
_LS_L3VPN_KEY = ["hash_id", "peer_hash_id"]

# msg_type -> (state table, log table, bucket key, prepare, merge).
# ip_rib's prepare and merge are looked up on ``ingest`` at call time,
# so a wrapper patched there (bmpbench/trace.py) sees every batch.
_RIB_TABLES = {
    "unicast_prefix": (
        "ip_rib", "ip_rib_log", _IP_RIB_KEY,
        lambda batch: ingest.prepare_unicast_prefix(batch),
        lambda state, src, materialize_join: ingest.apply_unicast_prefix(
            state, src, prepared=True, materialize_join=materialize_join)),
    "ls_node": ("ls_nodes", "ls_nodes_log", _LS_L3VPN_KEY,
                ingest_ls.prepare_ls_node,
                _policy_merge(ingest_ls.LS_NODE_POLICY)),
    "ls_link": ("ls_links", "ls_links_log", _LS_L3VPN_KEY,
                ingest_ls.prepare_ls_link,
                _policy_merge(ingest_ls.LS_LINK_POLICY)),
    "ls_prefix": ("ls_prefixes", "ls_prefixes_log", _LS_L3VPN_KEY,
                  ingest_ls.prepare_ls_prefix,
                  _policy_merge(ingest_ls.LS_PREFIX_POLICY)),
    "l3vpn": ("l3vpn_rib", "l3vpn_rib_log", _LS_L3VPN_KEY,
              ingest_ls.prepare_l3vpn, _policy_merge(ingest_ls.L3VPN_POLICY)),
}


class BmpStreamingIngest:
    """foreachBatch glue: message batch -> apply -> state store.

    Each micro-batch is ONE store transaction: the change-log append,
    the state replace, and the (msg_type, batch_id) txn action commit
    atomically — mirroring the reference, where the bulk upsert and
    its trigger-emitted log rows share one Postgres transaction
    (WriterRunnable.java:155-176 + 9_triggers.sql). A crash anywhere
    before the commit record leaves the previous snapshot intact and
    the replayed batch re-applies cleanly; a replay after the commit
    is skipped by the txn action (T5/T8 exactly-once)."""

    def __init__(self, spark: SparkSession, store: TxnStateStore,
                 geo_ip: DataFrame | None = None,
                 rib_buckets: int | None = None):
        """``rib_buckets``: hash-bucket the five RIB-shaped state tables
        (ip_rib, l3vpn_rib, ls_nodes, ls_links, ls_prefixes) on their
        merge key so each micro-batch rewrites ONLY the buckets its
        keys touch (lakehouse matched-file rewrite, O(batch) not
        O(table) — at 100 TB this is the difference between a merge
        that works and one that rewrites the world). None =
        monolithic replace."""
        self.spark = spark
        self.store = store
        self.geo_ip = geo_ip
        self.rib_buckets = rib_buckets

    def _applied(self, name: str, batch_id: int) -> bool:
        return self.store.last_txn_version(name) >= batch_id

    def _rib_batch(self, name: str, batch: DataFrame, batch_id: int) -> None:
        """One micro-batch of a RIB-shaped table: prepare, merge, then
        stage the change log and the state concurrently in one txn."""
        if self._applied(name, batch_id):
            return
        table, log_table, key, prepare, merge = _RIB_TABLES[name]
        n = self.rib_buckets
        # materialize the parsed+deduped batch ONCE; bucket pruning,
        # the log write, and the state write all reuse it instead of
        # re-running the parse stage per job
        src = prepare(batch).localCheckpoint()
        if n:
            # bucket pruning: one cheap distinct over the batch keys
            # tells us which state buckets the merge can touch (the
            # lakehouse MERGE file-pruning step)
            touched = [r[0] for r in src.select(
                bucket_of(key, n).alias("b")).distinct().collect()]
            state = self.store.read_buckets(table, touched)
        else:
            state = self.store.read(table)
        # materialize the merge join once: the txn writes BOTH log
        # and state, which would otherwise each re-run the full-outer
        # merge (state scan + shuffle) as separate jobs
        new_state, log = merge(state, src, lambda df: df.localCheckpoint())
        log_part = None
        if log_table == "ip_rib_log":
            # hour partitions: Timescale 1-hour chunks (1_base.sql:367)
            log_part = "log_hour"
            log = log.withColumn(log_part, F.date_trunc("hour", "timestamp"))
        with self.store.transaction(name, batch_id) as txn:
            def stage_state():
                if n:
                    txn.merge_buckets(table, new_state, key, n, touched)
                else:
                    txn.replace(table, new_state)

            _stage_concurrently(
                lambda: txn.append(log_table, log, partition_by=log_part),
                stage_state)

    # -- per-type batch handlers ---------------------------------------
    def unicast_prefix_batch(self, batch: DataFrame, batch_id: int) -> None:
        self._rib_batch("unicast_prefix", batch, batch_id)

    def base_attribute_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self._applied("base_attribute", batch_id):
            return
        merged = ingest.apply_base_attribute(
            self.store.read("base_attrs"), batch)
        with self.store.transaction("base_attribute", batch_id) as txn:
            txn.replace("base_attrs", merged)

    def peer_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self._applied("peer", batch_id):
            return
        peers, rib, log = ingest.apply_peer(
            self.store.read("bgp_peers"), self.store.read("ip_rib"),
            self.store.read("routers"), batch, self.geo_ip)
        with self.store.transaction("peer", batch_id) as txn:
            txn.append("peer_event_log", log)
            txn.replace("bgp_peers", peers)
            # the peer-up flush (P9) deletes rows across arbitrary
            # buckets, so this is a full rewrite either way; keep the
            # bucketed layout so later merges stay partial
            if self.rib_buckets:
                txn.replace_bucketed("ip_rib", rib, _IP_RIB_KEY,
                                     self.rib_buckets)
            else:
                txn.replace("ip_rib", rib)

    def router_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self._applied("router", batch_id):
            return
        routers, peers = ingest.apply_router(
            self.store.read("routers"), self.store.read("bgp_peers"),
            batch, self.geo_ip)
        with self.store.transaction("router", batch_id) as txn:
            txn.replace("routers", routers)
            txn.replace("bgp_peers", peers)

    def collector_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self._applied("collector", batch_id):
            return
        collectors, routers = ingest.apply_collector(
            self.store.read("collectors"), self.store.read("routers"), batch)
        with self.store.transaction("collector", batch_id) as txn:
            txn.replace("collectors", collectors)
            txn.replace("routers", routers)

    def bmp_stat_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self._applied("bmp_stat", batch_id):
            return
        with self.store.transaction("bmp_stat", batch_id) as txn:
            txn.append("stat_reports", ingest.prepare_bmp_stat(batch))

    def ls_node_batch(self, batch: DataFrame, batch_id: int) -> None:
        self._rib_batch("ls_node", batch, batch_id)

    def ls_link_batch(self, batch: DataFrame, batch_id: int) -> None:
        self._rib_batch("ls_link", batch, batch_id)

    def ls_prefix_batch(self, batch: DataFrame, batch_id: int) -> None:
        self._rib_batch("ls_prefix", batch, batch_id)

    def l3vpn_batch(self, batch: DataFrame, batch_id: int) -> None:
        self._rib_batch("l3vpn", batch, batch_id)

    HANDLERS = {
        "unicast_prefix": unicast_prefix_batch,
        "base_attribute": base_attribute_batch,
        "peer": peer_batch,
        "router": router_batch,
        "collector": collector_batch,
        "bmp_stat": bmp_stat_batch,
        "ls_node": ls_node_batch,
        "ls_link": ls_link_batch,
        "ls_prefix": ls_prefix_batch,
        "l3vpn": l3vpn_batch,
    }

    def start_kafka_shaped_stream(self, msg_type: str, raw: DataFrame,
                                  checkpoint_dir: str,
                                  available_now: bool = False,
                                  trigger_interval: str = "1 second"):
        """Everything AFTER the connector ``load()``: a streaming
        DataFrame with Kafka's record schema (key BINARY, value
        BINARY, topic STRING, timestamp, ...) -> decode_kafka_records
        -> the same foreachBatch handler as every other source. The
        production ``start_kafka_stream`` delegates here; tests drive
        the identical path from a file-source stand-in exposing the
        same columns, so the TSV decode + dedup + merge chain has
        executed E2E evidence even without the connector jar
        (ConsumerRunnable.java:253-308 is the reference shape)."""
        from ..sources.kafka import decode_kafka_records

        typed = decode_kafka_records(raw, msg_type).drop("kafka_key")
        return self._start(msg_type, typed, checkpoint_dir, available_now,
                           trigger_interval)

    def start_kafka_stream(self, msg_type: str, bootstrap_servers: str,
                           checkpoint_dir: str, **kafka_opts):
        """Production entry point: Kafka topic -> parse_tsv -> the
        same foreachBatch handler as the file stream (S1 + S2 + T8).
        Requires the spark-sql-kafka connector on the classpath —
        the ``load()`` inside read_stream is the only line of this
        path without in-container executed evidence."""
        from ..sources.kafka import reader_options

        raw = (
            self.spark.readStream.format("kafka")
            .options(**reader_options(msg_type, bootstrap_servers,
                                      **kafka_opts))
            .load()
        )
        return self.start_kafka_shaped_stream(
            msg_type, raw, checkpoint_dir)

    def start_file_stream(self, msg_type: str, source_dir: str,
                          checkpoint_dir: str, available_now: bool = True,
                          trigger_interval: str = "1 second"):
        """Drive the pipeline from a parquet file stream (tests /
        backfill). The production Kafka entry point builds the same
        writeStream with sources.kafka.read_stream instead.
        ``trigger_interval`` sets the micro-batch cadence for the
        continuous (``available_now=False``) mode — the freshness
        knob measured by tools/bench_latency.py."""
        reader = (
            self.spark.readStream.schema(MESSAGE_SCHEMAS[msg_type])
            .parquet(source_dir)
        )
        return self._start(msg_type, reader, checkpoint_dir, available_now,
                           trigger_interval)

    def _start(self, msg_type: str, stream: DataFrame, checkpoint_dir: str,
               available_now: bool, trigger_interval: str):
        """``stream`` -> this message type's foreachBatch handler."""
        trigger = {"availableNow": True} if available_now \
            else {"processingTime": trigger_interval}
        return (
            stream.writeStream
            .foreachBatch(self.HANDLERS[msg_type].__get__(self))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**trigger)
            .start()
        )
