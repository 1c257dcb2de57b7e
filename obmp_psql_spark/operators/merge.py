"""MERGE / upsert emulation as DataFrame algebra.

The reference's hot path is a multi-row ``INSERT ... ON CONFLICT DO
UPDATE`` with per-column CASE logic (UnicastPrefixQuery.java:24-41,
RouterQuery.java:32-38, PeerQuery.java:32-38). On a Delta/Iceberg
deployment these map 1:1 to ``MERGE INTO ... WHEN MATCHED THEN UPDATE
SET col = CASE ...``; this container has no Delta jars, so the same
semantics are implemented as pure DataFrame transformations over a
parquet-backed state table:

    new_state = merge(state, batch)  ==  (batch ⟕ state) resolved per
    column  ∪  (state ⟖ batch anti)

which a lakehouse MERGE executes with the identical join plan. The
functions below return the new state DataFrame; persisting it
(overwrite-partition or Delta commit) is the sink's job.

``conditional_rib_merge`` is the one withdraw-aware merge for the five
RIB-shaped tables (ip_rib, l3vpn_rib, ls_nodes, ls_links, ls_prefixes:
UnicastPrefixQuery.java:24-51, L3VpnPrefixQuery.java:36-42,
Ls*Query.java); each table states its column rules as a
``MergePolicy`` next to its prepare function.

Scale: one shuffle on the merge key for the join, one for the anti —
on Delta this collapses into the single MERGE shuffle; with the state
table bucketed by key both sides co-locate and only the batch
shuffles.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import TABLE_SCHEMAS
from .dedup import dedup_latest


def upsert_latest(
    state: DataFrame,
    batch: DataFrame,
    keys: list[str],
    ts_col: str = "timestamp",
    tiebreak: list[Column] | None = None,
) -> DataFrame:
    """Last-writer-wins upsert: per key, keep the row with the
    greatest ``ts_col`` across state ∪ batch; the batch wins ties
    (MERGE ``WHEN MATCHED AND src.ts >= tgt.ts`` — T7 semantics,
    UnicastPrefixQuery.java:35-40 timestamp guard).
    """
    s = state.withColumn("__src", F.lit(0))
    b = batch.withColumn("__src", F.lit(1))
    order = [F.col(ts_col).desc(), F.col("__src").desc()] + list(tiebreak or [])
    return dedup_latest(s.unionByName(b), keys, order).drop("__src")


@dataclass(frozen=True)
class MergePolicy:
    """Column rules of one RIB-shaped table.

    State merge: ``keys`` and ``always`` columns take the batch value
    on update; ``keep_on_withdraw`` columns keep the old value when
    the batch row is a withdraw; every other column is insert-only.
    Change log (the AFTER UPDATE trigger): one row per update where
    the withdraw flag flipped or (advertise) the attr hash changed,
    with the columns of ``TABLE_SCHEMAS[log_table]``;
    ``log_old_on_withdraw`` columns take the pre-merge value on
    withdraws, ``log_always_old`` ones on every log row (the
    ls_nodes.asn quirk), the rest the batch value."""
    keys: tuple[str, ...]
    always: tuple[str, ...]
    keep_on_withdraw: tuple[str, ...]
    log_table: str
    log_old_on_withdraw: tuple[str, ...] = ()
    log_always_old: tuple[str, ...] = ()


def conditional_rib_merge(
    state: DataFrame, batch: DataFrame, policy: MergePolicy,
    materialize_join=None,
) -> tuple[DataFrame, DataFrame]:
    """Withdraw-aware merge + trigger-CDC log: (new state, log
    appends). ``batch`` must already be in state-column shape and
    batch-compressed (one row per key); key presence on each side is
    tested on ``policy.keys[0]``. ``materialize_join``: see
    ``split_merge_outputs``."""
    src = batch.alias("src")
    tgt = state.alias("tgt")
    cond = None
    for k in policy.keys:
        c = F.col(f"src.{k}") == F.col(f"tgt.{k}")
        cond = c if cond is None else (cond & c)
    j = src.join(tgt, cond, "full_outer")
    k0 = policy.keys[0]
    has_src = f"src.`{k0}` IS NOT NULL"
    has_tgt = f"tgt.`{k0}` IS NOT NULL"
    matched = f"({has_src} AND {has_tgt})"
    wd = "src.is_withdrawn"

    cols = []
    for f_ in state.schema.fields:
        c = f_.name
        if c in policy.always or c in policy.keys:
            e = f"CASE WHEN {has_src} THEN src.`{c}` ELSE tgt.`{c}` END"
        elif c in policy.keep_on_withdraw:
            e = (f"CASE WHEN {matched} AND {wd} THEN tgt.`{c}` "
                 f"WHEN {has_src} THEN src.`{c}` ELSE tgt.`{c}` END")
        else:  # insert-only (incl. first_added_timestamp)
            e = f"CASE WHEN {has_tgt} THEN tgt.`{c}` ELSE src.`{c}` END"
        cols.append(f"{e} AS `{c}`")

    changed = (
        f"{matched} AND (src.is_withdrawn != tgt.is_withdrawn "
        # plain != replicates Postgres NULL semantics: NULL attr
        # on either side -> condition NULL -> no log row
        f"OR ((NOT {wd}) AND "
        f"src.base_attr_hash_id != tgt.base_attr_hash_id))"
    )
    log_cols = []
    for f_ in TABLE_SCHEMAS[policy.log_table].fields:
        c = f_.name
        if c in policy.log_always_old:
            e = f"tgt.`{c}`"
        elif c in policy.log_old_on_withdraw:
            e = f"CASE WHEN {wd} THEN tgt.`{c}` ELSE src.`{c}` END"
        else:
            e = f"src.`{c}`"
        log_cols.append(f"{e} AS `{c}`")
    return split_merge_outputs(j, cols, changed, log_cols, materialize_join)


def split_merge_outputs(j: DataFrame, state_cols: list[str], changed: str,
                        log_cols: list[str], materialize_join=None
                        ) -> tuple[DataFrame, DataFrame]:
    """Derive (new_state, log) from a merge join.

    ``state_cols``/``log_cols`` are SQL expression strings (``"<expr>
    AS <name>"``) and ``changed`` a SQL predicate, parsed JVM-side in
    one selectExpr call: per-column Column construction costs ~8-10
    py4j round-trips per column, which made plan construction a
    multi-second driver stall per merge (driver plan-construction
    time, guide §7.3). CASE WHEN mirrors F.when's null fall-through.

    Without ``materialize_join`` the two outputs are independent
    plans over ``j`` — fine when only one is consumed, but a sink
    that writes BOTH runs the join (and everything under it) twice.
    With it (e.g. ``lambda df: df.localCheckpoint()``), the join is
    executed ONCE into a combined (state-struct, nullable log-struct)
    frame and both outputs become projections of that — the
    single-pass multi-output shape a lakehouse MERGE..OUTPUT gets
    natively. On a cluster sink, substitute a staging-dir write for
    localCheckpoint; the cost model is the same (one join, one
    materialization, two cheap scans)."""
    if materialize_join is None:
        return (j.selectExpr(*state_cols),
                j.filter(changed).selectExpr(*log_cols))

    # named_struct keeps the field names from the "... AS name"
    # suffixes; CASE WHEN yields NULL unless `changed` is TRUE —
    # same rows as filter(changed) under SQL three-valued logic
    def _named(exprs):
        return "named_struct(" + ", ".join(
            f"'{e.rsplit(' AS ', 1)[1].strip('`')}', "
            f"{e.rsplit(' AS ', 1)[0]}" for e in exprs) + ")"
    combined = materialize_join(j.selectExpr(
        f"{_named(state_cols)} AS __state",
        f"CASE WHEN {changed} THEN {_named(log_cols)} END AS __log"))
    return (combined.select("__state.*"),
            combined.filter(F.col("__log").isNotNull()).select("__log.*"))
