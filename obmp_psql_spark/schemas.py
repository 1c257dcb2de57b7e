"""Fixed schemas for the 10 BMP message types and the state tables.

The reference parses positional TSV against hard-coded column lists
(psqlquery/*.java genInsert/genValues; external openbmp-api-message
headers) into fixed-DDL Postgres tables (database/1_base.sql). No
inference anywhere — mirrored here as explicit StructTypes.

Naming: snake_case throughout (Postgres folds to lowercase anyway);
boolean is* columns become is_* (e.g. ``isWithdrawn`` ->
``is_withdrawn``).
"""

from __future__ import annotations

from pyspark.sql import types as T


def _s(*fields: tuple) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


STR = T.StringType()
LNG = T.LongType()
INT = T.IntegerType()
SHORT = T.ShortType()
BOOL = T.BooleanType()
TS = T.TimestampType()
DBL = T.DoubleType()

# ---------------------------------------------------------------------------
# Kafka message payload schemas (FIXTURES.md §1; reference:
# psqlquery/{Collector,Router,Peer,BaseAttribute,UnicastPrefix,
# L3VpnPrefix,LsNode,LsLink,LsPrefix,BmpStat}Query.java)
# ---------------------------------------------------------------------------

MSG_COLLECTOR = _s(
    ("action", STR), ("hash", STR), ("admin_id", STR), ("router_list", STR),
    ("router_count", INT), ("timestamp", TS),
)

MSG_ROUTER = _s(
    ("action", STR), ("hash", STR), ("name", STR), ("ip_address", STR),
    ("description", STR), ("term_code", INT), ("term_reason", STR),
    ("term_data", STR), ("init_data", STR), ("bgp_id", STR),
    ("collector_hash", STR), ("timestamp", TS),
)

MSG_PEER = _s(
    ("action", STR), ("hash", STR), ("router_hash", STR), ("peer_rd", STR),
    ("is_ipv4", BOOL), ("peer_ip", STR), ("name", STR), ("peer_bgp_id", STR),
    ("peer_asn", LNG), ("is_l3vpn", BOOL), ("is_pre_policy", BOOL),
    ("local_ip", STR), ("local_bgp_id", STR), ("local_port", INT),
    ("local_holddown", INT), ("local_asn", LNG), ("peer_port", INT),
    ("peer_holddown", INT), ("advertised_cap", STR), ("received_cap", STR),
    ("bmp_down_reason", INT), ("bgp_error_code", INT),
    ("bgp_error_subcode", INT), ("bgp_error_text", STR), ("is_loc_rib", BOOL),
    ("is_loc_rib_filtered", BOOL), ("table_name", STR), ("timestamp", TS),
)

MSG_BASE_ATTRIBUTE = _s(
    ("hash", STR), ("peer_hash", STR), ("origin", STR), ("as_path", STR),
    ("as_path_len", INT), ("origin_asn", LNG), ("next_hop", STR),
    ("med", LNG), ("local_pref", LNG), ("is_atomic_agg", BOOL),
    ("aggregator", STR), ("community_list", STR), ("ext_community_list", STR),
    ("large_community_list", STR), ("cluster_list", STR),
    ("originator_id", STR), ("nexthop_is_ipv4", BOOL), ("timestamp", TS),
)

MSG_UNICAST_PREFIX = _s(
    ("action", STR), ("hash", STR), ("peer_hash", STR),
    ("base_attr_hash", STR), ("is_ipv4", BOOL), ("origin_asn", LNG),
    ("prefix", STR), ("prefix_len", SHORT), ("is_withdrawn", BOOL),
    ("path_id", LNG), ("labels", STR), ("is_pre_policy", BOOL),
    ("is_adj_rib_in", BOOL), ("timestamp", TS),
)

MSG_L3VPN = T.StructType(
    MSG_UNICAST_PREFIX.fields
    + [T.StructField("rd", STR), T.StructField("ext_community_list", STR)]
)

MSG_LS_NODE = _s(
    ("hash", STR), ("peer_hash", STR), ("base_attr_hash", STR),
    ("sequence", LNG), ("peer_asn", LNG), ("ls_id", LNG),
    ("igp_router_id", STR), ("ospf_area_id", STR), ("protocol", STR),
    ("router_id", STR), ("isis_area_id", STR), ("flags", STR), ("name", STR),
    ("mt_ids", STR), ("sr_capabilities", STR), ("is_withdrawn", BOOL),
    ("timestamp", TS),
)

MSG_LS_LINK = _s(
    ("hash", STR), ("peer_hash", STR), ("base_attr_hash", STR),
    ("sequence", LNG), ("mt_id", INT), ("interface_ip", STR),
    ("neighbor_ip", STR), ("protocol", STR), ("local_link_id", LNG),
    ("remote_link_id", LNG), ("local_node_hash", STR), ("remote_node_hash", STR),
    ("admin_group", LNG), ("max_link_bw", LNG), ("max_resv_bw", LNG),
    ("unreserved_bw", STR), ("te_default_metric", LNG),
    ("link_protection", STR), ("mpls_proto_mask", STR), ("igp_metric", LNG),
    ("srlg", STR), ("link_name", STR), ("igp_router_id", STR),
    ("router_id", STR), ("remote_igp_router_id", STR), ("remote_router_id", STR),
    ("local_node_asn", LNG), ("remote_node_asn", LNG),
    ("epe_peer_node_sid", STR), ("adjacency_segment_id", STR),
    ("is_withdrawn", BOOL), ("timestamp", TS),
)

MSG_LS_PREFIX = _s(
    ("hash", STR), ("peer_hash", STR), ("base_attr_hash", STR),
    ("sequence", LNG), ("local_node_hash", STR), ("mt_id", INT),
    ("protocol", STR), ("prefix", STR), ("prefix_len", SHORT),
    ("ospf_route_type", STR), ("igp_flags", STR), ("route_tag", LNG),
    ("ext_route_tag", LNG), ("igp_metric", LNG), ("ospf_fwd_address", STR),
    ("prefix_sid_tlv", STR), ("is_withdrawn", BOOL), ("timestamp", TS),
)

MSG_BMP_STAT = _s(
    ("peer_hash", STR), ("timestamp", TS), ("rejected", LNG),
    ("known_dup_updates", LNG), ("known_dup_withdraws", LNG),
    ("invalid_cluster_list", LNG), ("invalid_as_path", LNG),
    ("invalid_originator", LNG), ("invalid_as_confed", LNG),
    ("routes_adj_rib_in", LNG), ("routes_loc_rib", LNG),
)

MESSAGE_SCHEMAS: dict[str, T.StructType] = {
    "collector": MSG_COLLECTOR,
    "router": MSG_ROUTER,
    "peer": MSG_PEER,
    "base_attribute": MSG_BASE_ATTRIBUTE,
    "unicast_prefix": MSG_UNICAST_PREFIX,
    "l3vpn": MSG_L3VPN,
    "ls_node": MSG_LS_NODE,
    "ls_link": MSG_LS_LINK,
    "ls_prefix": MSG_LS_PREFIX,
    "bmp_stat": MSG_BMP_STAT,
}

# ---------------------------------------------------------------------------
# State tables (reference DDL: database/1_base.sql, 10_l3vpn.sql)
# ---------------------------------------------------------------------------

COLLECTORS = _s(
    ("hash_id", STR), ("state", STR), ("admin_id", STR), ("routers", STR),
    ("router_count", INT), ("timestamp", TS),
)

ROUTERS = _s(
    ("hash_id", STR), ("name", STR), ("ip_address", STR), ("timestamp", TS),
    ("state", STR), ("term_reason_code", INT), ("term_reason_text", STR),
    ("term_data", STR), ("init_data", STR), ("description", STR),
    ("collector_hash_id", STR), ("bgp_id", STR), ("geo_ip_start", STR),
    ("conn_count", INT),  # J11 router connection tracking (in-memory map
                          # in the reference, ConsumerRunnable.java:596-629)
)

BGP_PEERS = _s(
    ("hash_id", STR), ("router_hash_id", STR), ("peer_rd", STR),
    ("is_ipv4", BOOL), ("peer_addr", STR), ("name", STR), ("peer_bgp_id", STR),
    ("peer_as", LNG), ("state", STR), ("is_l3vpn_peer", BOOL),
    ("timestamp", TS), ("is_pre_policy", BOOL), ("local_ip", STR),
    ("local_bgp_id", STR), ("local_port", INT), ("local_hold_time", INT),
    ("local_asn", LNG), ("remote_port", INT), ("remote_hold_time", INT),
    ("sent_capabilities", STR), ("recv_capabilities", STR),
    ("bmp_reason", INT), ("bgp_err_code", INT), ("bgp_err_subcode", INT),
    ("error_text", STR), ("is_loc_rib", BOOL), ("is_loc_rib_filtered", BOOL),
    ("table_name", STR), ("geo_ip_start", STR),
)

BASE_ATTRS = _s(
    ("hash_id", STR), ("peer_hash_id", STR), ("origin", STR),
    ("as_path", T.ArrayType(LNG)), ("as_path_count", INT), ("origin_as", LNG),
    ("next_hop", STR), ("med", LNG), ("local_pref", LNG),
    ("is_atomic_agg", BOOL), ("aggregator", STR),
    ("community_list", T.ArrayType(STR)),
    ("ext_community_list", T.ArrayType(STR)),
    ("large_community_list", T.ArrayType(STR)),
    ("cluster_list", T.ArrayType(STR)), ("originator_id", STR),
    ("nexthop_is_ipv4", BOOL), ("timestamp", TS),
)

IP_RIB = _s(
    ("hash_id", STR), ("peer_hash_id", STR), ("base_attr_hash_id", STR),
    ("is_ipv4", BOOL), ("origin_as", LNG), ("prefix", STR),
    ("prefix_len", SHORT), ("timestamp", TS), ("first_added_timestamp", TS),
    ("is_withdrawn", BOOL), ("path_id", LNG), ("labels", STR),
    ("is_pre_policy", BOOL), ("is_adj_rib_in", BOOL),
    # numeric bounds for containment joins / data skipping (SURVEY §2.7 F4)
    ("prefix_start", LNG), ("prefix_end", LNG),
    # family-agnostic base address: v4 = (0, prefix_start); v6 = the
    # masked two-long base (net.ipv6_bounds_longs) — probe side of
    # the unified containment/LPM joins (1_base.sql:40-59 inet is v6 too)
    ("prefix_base_hi", LNG), ("prefix_base_lo", LNG),
)

IP_RIB_LOG = _s(
    ("is_withdrawn", BOOL), ("prefix", STR), ("prefix_len", SHORT),
    ("base_attr_hash_id", STR), ("peer_hash_id", STR), ("origin_as", LNG),
    ("timestamp", TS),
)

PEER_EVENT_LOG = _s(
    ("state", STR), ("peer_hash_id", STR), ("local_ip", STR),
    ("local_bgp_id", STR), ("local_port", INT), ("local_hold_time", INT),
    ("local_asn", LNG), ("remote_port", INT), ("remote_hold_time", INT),
    ("sent_capabilities", STR), ("recv_capabilities", STR),
    ("geo_ip_start", STR), ("bmp_reason", INT), ("bgp_err_code", INT),
    ("bgp_err_subcode", INT), ("error_text", STR), ("timestamp", TS),
)

STAT_REPORTS = _s(
    ("peer_hash_id", STR), ("timestamp", TS), ("prefixes_rejected", LNG),
    ("known_dup_prefixes", LNG), ("known_dup_withdraws", LNG),
    ("invalid_cluster_list", LNG), ("invalid_as_path", LNG),
    ("invalid_originator", LNG), ("invalid_as_confed", LNG),
    ("routes_adj_rib_in", LNG), ("routes_loc_rib", LNG),
)

GLOBAL_IP_RIB = _s(
    ("prefix", STR), ("prefix_len", SHORT), ("recv_origin_as", LNG),
    ("is_withdrawn", BOOL), ("timestamp", TS), ("first_added_timestamp", TS),
    ("num_peers", LNG), ("advertising_peers", LNG), ("withdrawn_peers", LNG),
    ("irr_origin_as", LNG), ("irr_source", STR), ("irr_descr", STR),
    ("rpki_origin_as", LNG),
    ("prefix_start", LNG), ("prefix_end", LNG),
    ("prefix_base_hi", LNG), ("prefix_base_lo", LNG),
)

GEO_IP = _s(
    ("family", SHORT), ("ip", STR), ("country", STR), ("stateprov", STR),
    ("city", STR), ("latitude", DBL), ("longitude", DBL),
    ("timezone_offset", DBL), ("timezone_name", STR), ("isp_name", STR),
    ("connection_type", STR), ("organization_name", STR),
    ("prefix_start", LNG), ("prefix_end", LNG), ("masklen", INT),
    # unified-family bounds: v4 = (0, prefix_start)..(0, prefix_end)
    ("start_hi", LNG), ("start_lo", LNG), ("end_hi", LNG), ("end_lo", LNG),
)

RPKI_VALIDATOR = _s(
    ("prefix", STR), ("prefix_len", SHORT), ("prefix_len_max", SHORT),
    ("origin_as", LNG), ("timestamp", TS),
    ("prefix_start", LNG), ("prefix_end", LNG),
    ("start_hi", LNG), ("start_lo", LNG), ("end_hi", LNG), ("end_lo", LNG),
)

INFO_ROUTE = _s(
    ("prefix", STR), ("prefix_len", SHORT), ("descr", STR),
    ("origin_as", LNG), ("source", STR), ("timestamp", TS),
)

INFO_ASN = _s(
    ("asn", LNG), ("as_name", STR), ("org_id", STR), ("org_name", STR),
    ("remarks", STR), ("address", STR), ("city", STR), ("state_prov", STR),
    ("postal_code", STR), ("country", STR), ("raw_output", STR),
    ("source", STR), ("timestamp", TS),
)

LS_NODES = _s(
    ("hash_id", STR), ("peer_hash_id", STR), ("base_attr_hash_id", STR),
    ("seq", LNG), ("asn", LNG), ("bgp_ls_id", LNG), ("igp_router_id", STR),
    ("ospf_area_id", STR), ("protocol", STR), ("router_id", STR),
    ("isis_area_id", STR), ("flags", STR), ("name", STR), ("mt_ids", STR),
    ("sr_capabilities", STR), ("is_withdrawn", BOOL), ("timestamp", TS),
)

LS_LINKS = _s(
    ("hash_id", STR), ("peer_hash_id", STR), ("base_attr_hash_id", STR),
    ("seq", LNG), ("mt_id", INT), ("interface_addr", STR),
    ("neighbor_addr", STR), ("is_ipv4", BOOL), ("protocol", STR),
    ("local_link_id", LNG), ("remote_link_id", LNG),
    ("local_node_hash_id", STR), ("remote_node_hash_id", STR),
    ("admin_group", LNG), ("max_link_bw", LNG), ("max_resv_bw", LNG),
    ("unreserved_bw", STR), ("te_def_metric", LNG), ("protection", STR),
    ("mpls_proto_mask", STR), ("igp_metric", LNG), ("srlg", STR),
    ("name", STR), ("igp_router_id", STR), ("router_id", STR),
    ("remote_igp_router_id", STR), ("remote_router_id", STR),
    ("local_node_asn", LNG), ("remote_node_asn", LNG),
    ("epe_peer_node_sid", STR), ("adjacency_segment_id", STR),
    ("is_withdrawn", BOOL), ("timestamp", TS),
)

LS_PREFIXES = _s(
    ("hash_id", STR), ("peer_hash_id", STR), ("base_attr_hash_id", STR),
    ("seq", LNG), ("local_node_hash_id", STR), ("mt_id", INT),
    ("protocol", STR), ("prefix", STR), ("prefix_len", SHORT),
    ("ospf_route_type", STR), ("igp_flags", STR), ("route_tag", LNG),
    ("ext_route_tag", LNG), ("metric", LNG), ("ospf_fwd_addr", STR),
    ("sid_tlv", STR), ("is_withdrawn", BOOL), ("timestamp", TS),
)

L3VPN_RIB = T.StructType(
    IP_RIB.fields
    + [T.StructField("rd", STR), T.StructField("ext_community_list", STR)]
)

L3VPN_RIB_LOG = T.StructType(
    IP_RIB_LOG.fields
    + [T.StructField("rd", STR), T.StructField("ext_community_list", STR)]
)

LS_NODES_LOG = LS_NODES
LS_LINKS_LOG = LS_LINKS
LS_PREFIXES_LOG = LS_PREFIXES

# auth lookup (1_base.sql:116-122); seeded with the default row the
# reference inserts at install (:122)
USERS = _s(("username", STR), ("password", STR), ("type", STR))

DEFAULT_USERS = [("openbmp", "openbmp", "admin")]

TABLE_SCHEMAS: dict[str, T.StructType] = {
    "users": USERS,
    "collectors": COLLECTORS,
    "routers": ROUTERS,
    "bgp_peers": BGP_PEERS,
    "base_attrs": BASE_ATTRS,
    "ip_rib": IP_RIB,
    "ip_rib_log": IP_RIB_LOG,
    "peer_event_log": PEER_EVENT_LOG,
    "stat_reports": STAT_REPORTS,
    "global_ip_rib": GLOBAL_IP_RIB,
    "geo_ip": GEO_IP,
    "rpki_validator": RPKI_VALIDATOR,
    "info_route": INFO_ROUTE,
    "info_asn": INFO_ASN,
    "ls_nodes": LS_NODES,
    "ls_links": LS_LINKS,
    "ls_prefixes": LS_PREFIXES,
    "ls_nodes_log": LS_NODES_LOG,
    "ls_links_log": LS_LINKS_LOG,
    "ls_prefixes_log": LS_PREFIXES_LOG,
    "l3vpn_rib": L3VPN_RIB,
    "l3vpn_rib_log": L3VPN_RIB_LOG,
}
