"""Batch-apply functions: one per BMP message type.

Each function is pure DataFrame algebra — (state, batch) in, (new
state, log appends) out — replicating the reference's ON CONFLICT
CASE matrices, BEFORE/AFTER triggers, and side-effect statements:

- unicast_prefix: UnicastPrefixQuery.java:24-51 (conditional merge),
  9_triggers.sql:89-126 (change log with old values on withdraw) —
  ``IP_RIB_POLICY`` run by ``operators.merge.conditional_rib_merge``,
  the merge ingest_ls uses for l3vpn_rib and the ls_* tables
- base_attribute: BaseAttributeQuery.java:33 (ON CONFLICT DO NOTHING)
- peer: PeerQuery.java:24-40 (merge SET list), :121-153 (RIB flush),
  9_triggers.sql:43-85 (LocRib backfill, geo enrich, event log)
- router: RouterQuery.java:28-39 (state-guarded merge), :93-139
  (first-connection peer-down cascade), 9_triggers.sql:13-40 (geo)
- collector: CollectorQuery.java:24-29, :60-87 (router cascade)
- bmp_stat: BmpStatQuery.java:28-53 (plain append)

The streaming layer calls these inside foreachBatch after per-batch
dedup-latest (WriterRunnable.java:140-153 state compression); batch
backfills call them directly. Every shuffle hashes on the merge key;
the full-outer merge join is the single shuffle per table per batch
(Delta MERGE produces the same plan).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .functions import net
from .operators.dedup import dedup_latest
from .operators.lpm import lpm_join128
from .operators.merge import MergePolicy, conditional_rib_merge


def _nullif_empty(c: Column) -> Column:
    return F.when(F.length(c) > 0, c)


def _split_longs(c: Column) -> Column:
    """'65001 174 3356' -> array<long> (ref PsqlFunctions.java:65-91)."""
    return F.when(
        F.length(F.trim(c)) > 0,
        F.transform(F.split(F.trim(c), r"\s+"), lambda x: x.cast("long")),
    ).otherwise(F.array().cast("array<bigint>"))


def _split_strs(c: Column) -> Column:
    """space-delimited -> array<string> (ref PsqlFunctions.java:154-205)."""
    return F.when(
        F.length(F.trim(c)) > 0, F.split(F.trim(c), r"\s+")
    ).otherwise(F.array().cast("array<string>"))


def _addr_bounds(prefix: Column, prefix_len: Column, is_ipv4: Column
                 ) -> tuple[Column, Column, Column, Column]:
    """(prefix_start, prefix_end, prefix_base_hi, prefix_base_lo).

    v4 keeps the single-long bounds (data skipping on the parquet
    min/max of two longs); both families get the two-long base
    address for the unified containment/LPM joins — v4 as
    (0, start), v6 via the vectorized parser + native mask
    (find_geo_ip / ROA checks are family-blind: 1_base.sql:66-81,
    rpki_validator.py:26-73)."""
    cidr = F.concat_ws("/", prefix, prefix_len.cast("string"))
    start, end = net.ipv4_prefix_bounds(cidr)
    v6 = net.ipv6_to_longs(F.when(~is_ipv4, prefix))
    v6_hi, v6_lo, _, _ = net.ipv6_bounds_longs(v6["hi"], v6["lo"], prefix_len)
    base_hi = F.when(is_ipv4, F.lit(0).cast("long")).otherwise(v6_hi)
    base_lo = F.when(is_ipv4, start).otherwise(v6_lo)
    return (F.when(is_ipv4, start), F.when(is_ipv4, end), base_hi, base_lo)


def _geo_probe_addr(addr: Column, is_ipv4: Column) -> tuple[Column, Column, Column]:
    """Full host address string -> (family, hi, lo) probe columns."""
    v6 = net.ipv6_to_longs(F.when(~is_ipv4, addr))
    fam = F.when(is_ipv4, F.lit(4)).otherwise(F.lit(6))
    hi = F.when(is_ipv4, F.lit(0).cast("long")).otherwise(v6["hi"])
    lo = F.when(is_ipv4, net.ipv4_to_long(addr)).otherwise(v6["lo"])
    return fam, hi, lo


_GEO_PREFIX_COLS = ("ip", "masklen", "family",
                    "start_hi", "start_lo", "end_hi", "end_lo")


def _geo_lpm(rows: DataFrame, addr_col: str, geo_ip: DataFrame,
             is_ipv4: Column | None = None) -> DataFrame:
    """find_geo_ip per row (J5/G1/G2): unified-family LPM against the
    geo table; returns (hash_id, geo_ip_start)."""
    if is_ipv4 is None:
        is_ipv4 = F.col("is_ipv4")
    fam, hi, lo = _geo_probe_addr(F.col(addr_col), is_ipv4)
    probes = rows.select(
        "hash_id", fam.alias("__fam"), hi.alias("__hi"), lo.alias("__lo"))
    return lpm_join128(
        probes.filter(F.col("__hi").isNotNull() | F.col("__lo").isNotNull()),
        probe_key=["hash_id"], probe_family="__fam",
        probe_hi="__hi", probe_lo="__lo",
        prefixes=geo_ip.select(*_GEO_PREFIX_COLS),
        masklen_col="masklen", broadcast=True,
    ).select("hash_id", F.col("ip").alias("geo_ip_start"))


# ---------------------------------------------------------------------------
# unicast_prefix -> ip_rib (+ ip_rib_log)
# ---------------------------------------------------------------------------

# (gateway, {extra_cols: [Column, ...]}) — the projection below is a
# pure function of fixed input column NAMES; Column objects are
# immutable unresolved expression trees, reusable across DataFrames.
# Building it costs ~0.45 s of py4j round-trips (the v6 parser in
# _addr_bounds is a large tree) and every BMP pipeline pays it 1-2x
# per query; memoized per gateway (a restarted JVM rebuilds).
_PREP_UNICAST_MEMO: tuple | None = None


def _prep_unicast_cols(gw, extra_cols: tuple[str, ...]) -> list:
    global _PREP_UNICAST_MEMO
    if _PREP_UNICAST_MEMO is None or _PREP_UNICAST_MEMO[0] is not gw:
        _PREP_UNICAST_MEMO = (gw, {})
    memo = _PREP_UNICAST_MEMO[1]
    if extra_cols not in memo:
        withdrawn = F.col("is_withdrawn") | (F.lower(F.col("action")) == "del")
        start, end, base_hi, base_lo = _addr_bounds(
            F.col("prefix"), F.col("prefix_len"), F.col("is_ipv4"))
        memo[extra_cols] = [
            F.col("hash").alias("hash_id"),
            F.col("peer_hash").alias("peer_hash_id"),
            _nullif_empty(F.col("base_attr_hash")).alias("base_attr_hash_id"),
            F.col("is_ipv4"),
            F.col("origin_asn").alias("origin_as"),
            F.col("prefix"), F.col("prefix_len"), F.col("timestamp"),
            F.col("timestamp").alias("first_added_timestamp"),
            withdrawn.alias("is_withdrawn"),
            F.col("path_id"), F.col("labels"),
            F.col("is_pre_policy"), F.col("is_adj_rib_in"),
            start.alias("prefix_start"), end.alias("prefix_end"),
            base_hi.alias("prefix_base_hi"), base_lo.alias("prefix_base_lo"),
            *[F.col(c) for c in extra_cols],
        ]
    return memo[extra_cols]


def prepare_unicast_prefix(batch: DataFrame,
                           extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Message rows -> ip_rib row shape, filtered and batch-compressed
    (``first_added_timestamp`` = ``timestamp``, kept only on insert).
    ``extra_cols`` carries table-variant columns (l3vpn's rd /
    ext_community_list) through the SAME dedup window — one pass, no
    second window + rejoin."""
    cols = _prep_unicast_cols(batch.sparkSession._sc._gateway, extra_cols)
    rows = batch.filter(F.col("prefix_len") <= 128).select(*cols)  # P1
    return dedup_latest(rows, ["peer_hash_id", "hash_id"],
                        [F.col("timestamp").desc()])


# ip_rib's ON CONFLICT matrix (UnicastPrefixQuery.java:35-40): a
# withdraw keeps the previous base_attr_hash_id/origin_as, every other
# column but the insert-only first_added_timestamp takes the batch
# value. Log (9_triggers.sql:121-126): withdraws log the OLD
# attr/origin.
IP_RIB_POLICY = MergePolicy(
    keys=("hash_id", "peer_hash_id"),
    always=("is_ipv4", "prefix", "prefix_len", "timestamp", "is_withdrawn",
            "path_id", "labels", "is_pre_policy", "is_adj_rib_in",
            "prefix_start", "prefix_end", "prefix_base_hi", "prefix_base_lo"),
    keep_on_withdraw=("base_attr_hash_id", "origin_as"),
    log_table="ip_rib_log",
    log_old_on_withdraw=("base_attr_hash_id", "origin_as"),
)


def apply_unicast_prefix(state: DataFrame, batch: DataFrame,
                         prepared: bool = False,
                         materialize_join=None) -> tuple[DataFrame, DataFrame]:
    """Returns (new ip_rib state, ip_rib_log appends) under
    ``IP_RIB_POLICY``. ``prepared=True`` means ``batch`` is already
    the output of ``prepare_unicast_prefix`` (the sink materializes
    it once and reuses it for bucket pruning too)."""
    src = batch if prepared else prepare_unicast_prefix(batch)
    return conditional_rib_merge(state, src, IP_RIB_POLICY, materialize_join)


# ---------------------------------------------------------------------------
# base_attribute -> base_attrs (insert-if-absent)
# ---------------------------------------------------------------------------

def prepare_base_attribute(batch: DataFrame) -> DataFrame:
    rows = batch.select(
        F.col("hash").alias("hash_id"),
        F.col("peer_hash").alias("peer_hash_id"),
        "origin",
        _split_longs(F.col("as_path")).alias("as_path"),
        F.coalesce(F.col("as_path_len"),
                   F.size(_split_longs(F.col("as_path")))).alias("as_path_count"),
        F.col("origin_asn").alias("origin_as"),
        "next_hop", "med", "local_pref", "is_atomic_agg", "aggregator",
        _split_strs(F.col("community_list")).alias("community_list"),
        _split_strs(F.col("ext_community_list")).alias("ext_community_list"),
        _split_strs(F.col("large_community_list")).alias("large_community_list"),
        _split_strs(F.col("cluster_list")).alias("cluster_list"),
        _nullif_empty(F.col("originator_id")).alias("originator_id"),
        "nexthop_is_ipv4", "timestamp",
    )
    # earliest message wins within a batch: mirrors the consumer-side
    # processed_attr dedup cache (ConsumerRunnable.java:485-501)
    return dedup_latest(rows, ["peer_hash_id", "hash_id"],
                        [F.col("timestamp").asc()])


def apply_base_attribute(state: DataFrame, batch: DataFrame) -> DataFrame:
    """ON CONFLICT DO NOTHING (BaseAttributeQuery.java:33): existing
    attr rows win; idempotent under redelivery."""
    fresh = prepare_base_attribute(batch).join(
        state.select("peer_hash_id", "hash_id"),
        ["peer_hash_id", "hash_id"], "left_anti")
    return state.unionByName(fresh)


# ---------------------------------------------------------------------------
# peer -> bgp_peers (+ peer_event_log, ip_rib flush)
# ---------------------------------------------------------------------------

_PEER_SET_COLS = (
    "name", "state", "timestamp", "local_port", "local_hold_time",
    "remote_port", "remote_hold_time", "sent_capabilities",
    "recv_capabilities", "bmp_reason", "bgp_err_code", "bgp_err_subcode",
    "error_text", "table_name",
)


def prepare_peer(batch: DataFrame, routers: DataFrame, geo_ip: DataFrame | None) -> DataFrame:
    state_col = F.when(F.lower(F.col("action")).isin("first", "up"), "up") \
                 .otherwise("down")
    rows = batch.select(
        F.col("hash").alias("hash_id"),
        F.col("router_hash").alias("router_hash_id"),
        "peer_rd", "is_ipv4",
        F.col("peer_ip").alias("peer_addr"),
        "name",
        "peer_bgp_id",
        F.col("peer_asn").alias("peer_as"),
        state_col.alias("state"),
        F.col("is_l3vpn").alias("is_l3vpn_peer"),
        "timestamp", "is_pre_policy", "local_ip", "local_bgp_id", "local_port",
        F.col("local_holddown").alias("local_hold_time"),
        "local_asn",
        F.col("peer_port").alias("remote_port"),
        F.col("peer_holddown").alias("remote_hold_time"),
        F.col("advertised_cap").alias("sent_capabilities"),
        F.col("received_cap").alias("recv_capabilities"),
        F.col("bmp_down_reason").alias("bmp_reason"),
        F.col("bgp_error_code").alias("bgp_err_code"),
        F.col("bgp_error_subcode").alias("bgp_err_subcode"),
        F.col("bgp_error_text").alias("error_text"),
        "is_loc_rib", "is_loc_rib_filtered", "table_name",
    )
    rows = dedup_latest(rows, ["hash_id"], [F.col("timestamp").desc()])

    # t_bgp_peers backfill (9_triggers.sql:46-49): LocRib peers carry
    # 0.0.0.0 — take name/bgp_id from the router dimension
    r = F.broadcast(routers.select(
        F.col("hash_id").alias("__rh"),
        F.col("name").alias("__rname"),
        F.col("ip_address").alias("__rip")))
    needs_backfill = (F.col("peer_addr") == "0.0.0.0") & (F.col("peer_bgp_id") == "0.0.0.0")
    rows = (
        rows.join(r, rows["router_hash_id"] == F.col("__rh"), "left")
        .withColumn("name", F.when(needs_backfill, F.col("__rname")).otherwise(F.col("name")))
        .withColumn("peer_bgp_id", F.when(needs_backfill, F.col("__rip")).otherwise(F.col("peer_bgp_id")))
        .drop("__rh", "__rname", "__rip")
    )

    # geo enrichment: geo_ip_start = find_geo_ip(peer_addr) (J5/G2)
    # — family-blind (1_base.sql:66-81): v6 peers geo-enrich too
    if geo_ip is not None and geo_ip.head(1):
        rows = rows.join(_geo_lpm(rows, "peer_addr", geo_ip), "hash_id", "left")
    else:
        rows = rows.withColumn("geo_ip_start", F.lit(None).cast("string"))
    return rows


def apply_peer(
    peers: DataFrame, ip_rib: DataFrame, routers: DataFrame,
    batch: DataFrame, geo_ip: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (new bgp_peers, new ip_rib, peer_event_log appends)."""
    # ONE prepared batch shared by the state merge, the event log, and
    # the rib flush — the dedup window, router backfill join, and geo
    # LPM join run once, not three times
    s = prepare_peer(batch, routers, geo_ip)
    src = s.alias("src")
    tgt = peers.alias("tgt")
    j = src.join(tgt, F.col("src.hash_id") == F.col("tgt.hash_id"), "full_outer")

    # string-SQL projection, one selectExpr call — see
    # operators.merge.split_merge_outputs on why (py4j cost)
    has_src = "src.hash_id IS NOT NULL"
    has_tgt = "tgt.hash_id IS NOT NULL"
    cols = []
    for f in peers.schema.fields:
        c = f.name
        if c in _PEER_SET_COLS:
            e = f"CASE WHEN {has_src} THEN src.`{c}` ELSE tgt.`{c}` END"
        else:
            # insert-only columns (incl. geo_ip_start: not in the
            # ON CONFLICT SET list, PeerQuery.java:33-39)
            e = f"CASE WHEN {has_tgt} THEN tgt.`{c}` ELSE src.`{c}` END"
        cols.append(f"{e} AS `{c}`")
    new_peers = j.selectExpr(*cols)

    # peer_event_log: one row per applied message (t_bgp_peers fires
    # BEFORE INSERT and UPDATE); down events log err/reason fields,
    # up events log geo (9_triggers.sql:52-71)
    is_up = F.col("state") == "up"
    log = s.select(
        "state", F.col("hash_id").alias("peer_hash_id"),
        "local_ip", "local_bgp_id", "local_port", "local_hold_time",
        "local_asn", "remote_port", "remote_hold_time",
        "sent_capabilities", "recv_capabilities",
        F.when(is_up, F.col("geo_ip_start")).alias("geo_ip_start"),
        F.when(~is_up, F.col("bmp_reason")).alias("bmp_reason"),
        F.when(~is_up, F.col("bgp_err_code")).alias("bgp_err_code"),
        F.when(~is_up, F.col("bgp_err_subcode")).alias("bgp_err_subcode"),
        F.when(~is_up, F.col("error_text")).alias("error_text"),
        "timestamp",
    )

    # RIB flush (PeerQuery.java:121-153): on any peer event, drop this
    # peer's rib rows older than the event
    flush = F.broadcast(s.select(F.col("hash_id").alias("__ph"),
                                 F.col("timestamp").alias("__pts")))
    new_rib = (
        ip_rib.join(flush, ip_rib["peer_hash_id"] == F.col("__ph"), "left")
        .filter(F.col("__ph").isNull() | (F.col("timestamp") >= F.col("__pts")))
        .drop("__ph", "__pts")
    )
    return new_peers, new_rib, log


# ---------------------------------------------------------------------------
# router -> routers (+ bgp_peers down-cascade)
# ---------------------------------------------------------------------------

def apply_router(
    routers: DataFrame, peers: DataFrame, batch: DataFrame,
    geo_ip: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (new routers, new bgp_peers).

    Connection counting (RouterQuery.java:93-139, in-memory map in
    the reference) lives in the ``conn_count`` state column; the
    peer-down cascade fires only on a router's FIRST connection."""
    state_col = F.when(F.lower(F.col("action")) == "term", "down").otherwise("up")
    is_conn = F.lower(F.col("action")).isin("first", "init")
    rows = batch.select(
        F.col("hash").alias("hash_id"),
        "name", "ip_address", "timestamp",
        state_col.alias("state"),
        F.col("term_code").alias("term_reason_code"),
        F.col("term_reason").alias("term_reason_text"),
        "term_data", "init_data", "description",
        F.col("collector_hash").alias("collector_hash_id"),
        "bgp_id",
        is_conn.alias("__is_conn"),
    )
    # batch-aggregate connection deltas per router, keep latest row
    deltas = rows.groupBy("hash_id").agg(
        F.sum(F.when(F.col("__is_conn"), 1).otherwise(-1)).alias("__delta"),
        F.max(F.when(F.col("__is_conn"), F.col("timestamp"))).alias("__conn_ts"),
    )
    latest = dedup_latest(rows, ["hash_id"], [F.col("timestamp").desc()]) \
        .drop("__is_conn").join(deltas, "hash_id")

    # t_routers geo enrich (9_triggers.sql:13-40) — family-blind
    if geo_ip is not None and geo_ip.head(1):
        g = _geo_lpm(latest, "ip_address", geo_ip,
                     is_ipv4=~F.col("ip_address").contains(":"))
        latest = latest.join(g, "hash_id", "left")
    else:
        latest = latest.withColumn("geo_ip_start", F.lit(None).cast("string"))

    src = latest.alias("src")
    tgt = routers.alias("tgt")
    j = src.join(tgt, F.col("src.hash_id") == F.col("tgt.hash_id"), "full_outer")

    # string-SQL projection, one selectExpr call — see
    # operators.merge.split_merge_outputs on why (py4j cost)
    has_src = "src.hash_id IS NOT NULL"
    has_tgt = "tgt.hash_id IS NOT NULL"
    matched = f"({has_src} AND {has_tgt})"
    up = "src.state = 'up'"

    unconditional = ("timestamp", "state", "bgp_id", "term_reason_code",
                     "term_reason_text", "collector_hash_id", "geo_ip_start")
    keep_unless_up = ("name", "description", "init_data")
    cols = []
    for f in routers.schema.fields:
        c = f.name
        if c == "conn_count":
            old = "coalesce(tgt.conn_count, 0)"
            e = (f"CASE WHEN {has_src} THEN "
                 f"greatest(0, {old} + src.__delta) ELSE {old} END")
        elif c in unconditional:
            e = f"CASE WHEN {has_src} THEN src.`{c}` ELSE tgt.`{c}` END"
        elif c in keep_unless_up:
            e = (f"CASE WHEN {matched} AND {up} THEN src.`{c}` "
                 f"WHEN {matched} THEN tgt.`{c}` "
                 f"WHEN {has_src} THEN src.`{c}` ELSE tgt.`{c}` END")
        else:
            e = f"CASE WHEN {has_tgt} THEN tgt.`{c}` ELSE src.`{c}` END"
        cols.append(f"{e} AS `{c}`")
    new_routers = j.selectExpr(*cols)

    # peer-down cascade: first connection only (old conn_count <= 0)
    cascade = j.filter(
        f"{has_src} AND src.__conn_ts IS NOT NULL "
        f"AND coalesce(tgt.conn_count, 0) <= 0"
    ).select(F.col("src.hash_id").alias("__rh"), F.col("src.__conn_ts").alias("__rts"))
    new_peers = (
        peers.join(F.broadcast(cascade), peers["router_hash_id"] == F.col("__rh"), "left")
        .withColumn(
            "state",
            F.when(F.col("__rh").isNotNull() & (F.col("timestamp") < F.col("__rts")),
                   F.lit("down")).otherwise(F.col("state")))
        .drop("__rh", "__rts")
    )
    return new_routers, new_peers


# ---------------------------------------------------------------------------
# collector -> collectors (+ routers down-cascade)
# ---------------------------------------------------------------------------

def apply_collector(
    collectors: DataFrame, routers: DataFrame, batch: DataFrame
) -> tuple[DataFrame, DataFrame]:
    state_col = F.when(F.lower(F.col("action")) == "stopped", "down").otherwise("up")
    rows = batch.select(
        F.col("hash").alias("hash_id"),
        state_col.alias("state"),
        "admin_id",
        F.col("router_list").alias("routers"),
        "router_count", "timestamp",
        F.lower(F.col("action")).isin("started", "stopped").alias("__cascade"),
    )
    latest = dedup_latest(rows, ["hash_id"], [F.col("timestamp").desc()])

    src = latest.drop("__cascade").alias("src")
    tgt = collectors.alias("tgt")
    j = src.join(tgt, F.col("src.hash_id") == F.col("tgt.hash_id"), "full_outer")
    set_cols = ("state", "timestamp", "routers", "router_count")
    cols = []
    for f in collectors.schema.fields:
        c = f.name
        if c in set_cols:
            e = ("CASE WHEN src.hash_id IS NOT NULL "
                 f"THEN src.`{c}` ELSE tgt.`{c}` END")
        else:
            e = ("CASE WHEN tgt.hash_id IS NOT NULL "
                 f"THEN tgt.`{c}` ELSE src.`{c}` END")
        cols.append(f"{e} AS `{c}`")
    new_collectors = j.selectExpr(*cols)

    # started/stopped -> all of this collector's routers marked down
    # (CollectorQuery.java:76-79, no timestamp guard)
    cas = F.broadcast(rows.filter(F.col("__cascade"))
                      .select(F.col("hash_id").alias("__ch")).distinct())
    new_routers = (
        routers.join(cas, routers["collector_hash_id"] == F.col("__ch"), "left")
        .withColumn("state", F.when(F.col("__ch").isNotNull(), "down")
                    .otherwise(F.col("state")))
        .drop("__ch")
    )
    return new_collectors, new_routers


# ---------------------------------------------------------------------------
# bmp_stat -> stat_reports (append-only)
# ---------------------------------------------------------------------------

def prepare_bmp_stat(batch: DataFrame) -> DataFrame:
    return batch.select(
        F.col("peer_hash").alias("peer_hash_id"),
        "timestamp",
        F.col("rejected").alias("prefixes_rejected"),
        F.col("known_dup_updates").alias("known_dup_prefixes"),
        "known_dup_withdraws", "invalid_cluster_list", "invalid_as_path",
        "invalid_originator", "invalid_as_confed", "routes_adj_rib_in",
        "routes_loc_rib",
    )
