"""LS (link-state) and L3VPN ingest pipelines.

Each table is a prepare function plus a ``MergePolicy`` for the one
withdraw-aware merge, ``operators.merge.conditional_rib_merge``
(reference: LsNodeQuery.java:36-39, LsLinkQuery.java:43-60,
LsPrefixQuery.java:39-48, L3VpnPrefixQuery.java:36-42; triggers
9_triggers.sql:128-247, 10_l3vpn.sql:127-151).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ingest import _nullif_empty, prepare_unicast_prefix
from .operators.dedup import dedup_latest
from .operators.merge import MergePolicy, conditional_rib_merge


# ---------------------------------------------------------------------------
# ls_node
# ---------------------------------------------------------------------------

LS_NODE_POLICY = MergePolicy(
    keys=("hash_id", "peer_hash_id"),
    always=("timestamp", "seq", "is_withdrawn"),
    keep_on_withdraw=("base_attr_hash_id", "sr_capabilities"),
    log_table="ls_nodes_log",
    log_old_on_withdraw=("base_attr_hash_id", "bgp_ls_id", "igp_router_id",
                         "ospf_area_id", "protocol", "router_id",
                         "isis_area_id", "flags", "name", "mt_ids",
                         "sr_capabilities"),
    log_always_old=("asn",),  # 9_triggers.sql:141,147 old.asn both branches
)


def prepare_ls_node(batch: DataFrame) -> DataFrame:
    rows = batch.select(
        F.col("hash").alias("hash_id"),
        F.col("peer_hash").alias("peer_hash_id"),
        _nullif_empty(F.col("base_attr_hash")).alias("base_attr_hash_id"),
        F.col("sequence").alias("seq"),
        F.col("peer_asn").alias("asn"),
        F.col("ls_id").alias("bgp_ls_id"),
        "igp_router_id", "ospf_area_id", "protocol", "router_id",
        "isis_area_id", "flags", "name", "mt_ids", "sr_capabilities",
        "is_withdrawn", "timestamp",
    )
    return dedup_latest(rows, ["hash_id", "peer_hash_id"], [F.col("timestamp").desc()])


def apply_ls_node(state: DataFrame, batch: DataFrame,
                  materialize_join=None) -> tuple[DataFrame, DataFrame]:
    return conditional_rib_merge(state, prepare_ls_node(batch), LS_NODE_POLICY,
                                 materialize_join)


# ---------------------------------------------------------------------------
# ls_link
# ---------------------------------------------------------------------------

LS_LINK_POLICY = MergePolicy(
    keys=("hash_id", "peer_hash_id"),
    always=("timestamp", "seq", "is_withdrawn"),
    keep_on_withdraw=(
        "base_attr_hash_id", "interface_addr", "neighbor_addr",
        "local_link_id", "remote_link_id", "admin_group", "max_link_bw",
        "max_resv_bw", "unreserved_bw", "te_def_metric", "protection",
        "mpls_proto_mask", "igp_metric", "srlg", "name",
        "epe_peer_node_sid", "adjacency_segment_id",
    ),
    log_table="ls_links_log",
    log_old_on_withdraw=(
        "base_attr_hash_id", "mt_id", "interface_addr", "neighbor_addr",
        "is_ipv4", "protocol", "local_link_id", "remote_link_id",
        "local_node_hash_id", "remote_node_hash_id", "admin_group",
        "max_link_bw", "max_resv_bw", "unreserved_bw", "te_def_metric",
        "protection", "mpls_proto_mask", "igp_metric", "srlg", "name",
        "igp_router_id", "router_id", "remote_igp_router_id",
        "remote_router_id", "local_node_asn", "remote_node_asn",
        "epe_peer_node_sid", "adjacency_segment_id",
    ),
)


def prepare_ls_link(batch: DataFrame) -> DataFrame:
    rows = batch.select(
        F.col("hash").alias("hash_id"),
        F.col("peer_hash").alias("peer_hash_id"),
        _nullif_empty(F.col("base_attr_hash")).alias("base_attr_hash_id"),
        F.col("sequence").alias("seq"),
        "mt_id",
        F.col("interface_ip").alias("interface_addr"),
        F.col("neighbor_ip").alias("neighbor_addr"),
        (~F.col("interface_ip").contains(":")).alias("is_ipv4"),
        "protocol", "local_link_id", "remote_link_id",
        F.col("local_node_hash").alias("local_node_hash_id"),
        F.col("remote_node_hash").alias("remote_node_hash_id"),
        "admin_group", "max_link_bw", "max_resv_bw", "unreserved_bw",
        F.col("te_default_metric").alias("te_def_metric"),
        F.col("link_protection").alias("protection"),
        "mpls_proto_mask", "igp_metric", "srlg",
        F.col("link_name").alias("name"),
        "igp_router_id", "router_id", "remote_igp_router_id",
        "remote_router_id", "local_node_asn", "remote_node_asn",
        "epe_peer_node_sid", "adjacency_segment_id",
        "is_withdrawn", "timestamp",
    )
    return dedup_latest(rows, ["hash_id", "peer_hash_id"], [F.col("timestamp").desc()])


def apply_ls_link(state: DataFrame, batch: DataFrame,
                  materialize_join=None) -> tuple[DataFrame, DataFrame]:
    return conditional_rib_merge(state, prepare_ls_link(batch), LS_LINK_POLICY,
                                 materialize_join)


# ---------------------------------------------------------------------------
# ls_prefix
# ---------------------------------------------------------------------------

LS_PREFIX_POLICY = MergePolicy(
    keys=("hash_id", "peer_hash_id"),
    always=("timestamp", "seq", "is_withdrawn"),
    keep_on_withdraw=("base_attr_hash_id", "igp_flags", "route_tag",
                      "ext_route_tag", "metric", "sid_tlv"),
    log_table="ls_prefixes_log",
    log_old_on_withdraw=("base_attr_hash_id", "local_node_hash_id", "mt_id",
                         "protocol", "prefix", "prefix_len",
                         "ospf_route_type", "igp_flags", "route_tag",
                         "ext_route_tag", "metric", "ospf_fwd_addr",
                         "sid_tlv"),
)


def prepare_ls_prefix(batch: DataFrame) -> DataFrame:
    rows = batch.select(
        F.col("hash").alias("hash_id"),
        F.col("peer_hash").alias("peer_hash_id"),
        _nullif_empty(F.col("base_attr_hash")).alias("base_attr_hash_id"),
        F.col("sequence").alias("seq"),
        F.col("local_node_hash").alias("local_node_hash_id"),
        "mt_id", "protocol", "prefix", "prefix_len", "ospf_route_type",
        "igp_flags", "route_tag", "ext_route_tag",
        F.col("igp_metric").alias("metric"),
        F.col("ospf_fwd_address").alias("ospf_fwd_addr"),
        F.col("prefix_sid_tlv").alias("sid_tlv"),
        "is_withdrawn", "timestamp",
    )
    return dedup_latest(rows, ["hash_id", "peer_hash_id"], [F.col("timestamp").desc()])


def apply_ls_prefix(state: DataFrame, batch: DataFrame,
                    materialize_join=None) -> tuple[DataFrame, DataFrame]:
    return conditional_rib_merge(state, prepare_ls_prefix(batch), LS_PREFIX_POLICY,
                                 materialize_join)


# ---------------------------------------------------------------------------
# l3vpn
# ---------------------------------------------------------------------------

L3VPN_POLICY = MergePolicy(
    keys=("peer_hash_id", "hash_id"),
    always=("timestamp", "is_withdrawn", "path_id", "labels",
            "is_pre_policy", "is_adj_rib_in", "rd", "ext_community_list"),
    keep_on_withdraw=("base_attr_hash_id", "origin_as"),
    log_table="l3vpn_rib_log",
    log_old_on_withdraw=("base_attr_hash_id", "origin_as", "rd",
                         "ext_community_list"),
)


def prepare_l3vpn(batch: DataFrame) -> DataFrame:
    # rd/ext ride the SAME dedup window as the base shape — one pass,
    # no second window + rejoin (L3VpnPrefixQuery.java:36-42)
    return prepare_unicast_prefix(batch, extra_cols=("rd", "ext_community_list"))


def apply_l3vpn(state: DataFrame, batch: DataFrame,
                materialize_join=None) -> tuple[DataFrame, DataFrame]:
    """L3VPN merge keeps the ip_rib CASE matrix plus rd/ext-community
    always-update (L3VpnPrefixQuery.java:36-42); log carries old
    rd/ext on withdraw (10_l3vpn.sql:127-151)."""
    return conditional_rib_merge(state, prepare_l3vpn(batch), L3VPN_POLICY,
                                 materialize_join)
