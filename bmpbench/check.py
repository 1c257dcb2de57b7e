"""Independent output check: the expected ``ip_rib`` / ``ip_rib_log``
computed from the generated wire records by DuckDB SQL, compared with
what the package committed.

The SQL restates the reference's upsert and trigger, not the package's
Spark plan:

* ``UnicastPrefixQuery.java:35-40``: ``INSERT ... ON CONFLICT
  (peer_hash_id, hash_id) DO UPDATE``; a withdraw keeps the stored
  ``base_attr_hash_id`` and ``origin_as``, ``first_added_timestamp`` is
  set on insert only, every other column takes the new value. Within
  one batch the writer keeps only the newest message per key.
* ``9_triggers.sql:121-126``: an AFTER UPDATE trigger (none on insert)
  logs the NEW row when the withdrawn flag flipped, or when an
  advertisement changed the attribute hash (SQL NULL semantics: a NULL
  on either side logs nothing).

Rows are compared with ``EXCEPT ALL`` both ways (each differing row is
one mismatch) and summarised by an order-insensitive hash.

The registry workload checks each query against the DuckDB oracle the
registry pairs it with, on the same tables (``table_conn``,
``frame_mismatch``).
"""

from __future__ import annotations

import glob
import os

import duckdb

RIB_COLS = ("hash_id", "peer_hash_id", "base_attr_hash_id", "is_ipv4", "origin_as",
            "prefix", "prefix_len", "timestamp", "first_added_timestamp",
            "is_withdrawn", "path_id", "labels", "is_pre_policy", "is_adj_rib_in")
LOG_COLS = ("is_withdrawn", "prefix", "prefix_len", "base_attr_hash_id",
            "peer_hash_id", "origin_as", "timestamp")

# canonical types, applied to both sides before comparing
_CAST = {"is_ipv4": "BOOLEAN", "origin_as": "BIGINT", "prefix_len": "SMALLINT",
         "timestamp": "TIMESTAMP", "first_added_timestamp": "TIMESTAMP",
         "is_withdrawn": "BOOLEAN", "path_id": "BIGINT", "is_pre_policy": "BOOLEAN",
         "is_adj_rib_in": "BOOLEAN"}


def _canon(cols) -> str:
    return ", ".join(f"CAST({c} AS {_CAST.get(c, 'VARCHAR')}) AS {c}" for c in cols)


def _files_sql(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


class Expected:
    """Replays batches of unicast_prefix wire records through the
    reference upsert in DuckDB. ``preload`` batches and the measured
    batches go through the same ``apply``."""

    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute("""
            CREATE TABLE rib (hash_id VARCHAR, peer_hash_id VARCHAR, base_attr_hash_id VARCHAR,
                is_ipv4 BOOLEAN, origin_as BIGINT, prefix VARCHAR, prefix_len SMALLINT,
                timestamp TIMESTAMP, first_added_timestamp TIMESTAMP, is_withdrawn BOOLEAN,
                path_id BIGINT, labels VARCHAR, is_pre_policy BOOLEAN, is_adj_rib_in BOOLEAN,
                PRIMARY KEY (peer_hash_id, hash_id))""")
        self.con.execute("""
            CREATE TABLE rib_log (is_withdrawn BOOLEAN, prefix VARCHAR, prefix_len SMALLINT,
                base_attr_hash_id VARCHAR, peer_hash_id VARCHAR, origin_as BIGINT,
                timestamp TIMESTAMP, batch INTEGER)""")
        self.con.execute("CREATE TABLE msgs (batch INTEGER, peer_hash_id VARCHAR, hash_id VARCHAR)")
        self.batches = 0

    def apply(self, files: list[str]) -> int:
        """Apply one batch (the records of ``files``); returns its index."""
        b = self.batches
        self.batches += 1
        if not files:
            return b
        c = self.con
        c.execute(f"""
            CREATE OR REPLACE TEMP TABLE raw AS
            SELECT string_split(decode(value), chr(9)) AS f
            FROM read_parquet({_files_sql(files)})""")
        c.execute(f"""
            CREATE OR REPLACE TEMP TABLE m AS
            SELECT f[2] AS hash_id, f[3] AS peer_hash_id, NULLIF(f[4], '') AS base_attr_hash_id,
                   f[5] IN ('1', 'true') AS is_ipv4, TRY_CAST(NULLIF(f[6], '') AS BIGINT) AS origin_as,
                   f[7] AS prefix, TRY_CAST(f[8] AS SMALLINT) AS prefix_len,
                   f[9] IN ('1', 'true') OR lower(f[1]) = 'del' AS is_withdrawn,
                   TRY_CAST(NULLIF(f[10], '') AS BIGINT) AS path_id, f[11] AS labels,
                   f[12] IN ('1', 'true') AS is_pre_policy, f[13] IN ('1', 'true') AS is_adj_rib_in,
                   TRY_CAST(f[14] AS TIMESTAMP) AS timestamp
            FROM raw WHERE TRY_CAST(f[8] AS SMALLINT) <= 128""")
        c.execute(f"INSERT INTO msgs SELECT DISTINCT {b}, peer_hash_id, hash_id FROM m")
        # the writer's per-batch state compression: newest message per key
        c.execute("""
            CREATE OR REPLACE TEMP TABLE src AS
            SELECT * EXCLUDE (rn) FROM (
                SELECT *, row_number() OVER (PARTITION BY peer_hash_id, hash_id
                                             ORDER BY timestamp DESC) AS rn FROM m)
            WHERE rn = 1""")
        # AFTER UPDATE trigger: NEW row of every matched key, logged when
        # the flag flipped or an advertisement changed the attribute
        c.execute(f"""
            INSERT INTO rib_log
            SELECT s.is_withdrawn, s.prefix, s.prefix_len,
                   CASE WHEN s.is_withdrawn THEN o.base_attr_hash_id ELSE s.base_attr_hash_id END,
                   s.peer_hash_id,
                   CASE WHEN s.is_withdrawn THEN o.origin_as ELSE s.origin_as END,
                   s.timestamp, {b}
            FROM src s JOIN rib o USING (peer_hash_id, hash_id)
            WHERE s.is_withdrawn != o.is_withdrawn
               OR (NOT s.is_withdrawn AND s.base_attr_hash_id != o.base_attr_hash_id)""")
        c.execute("""
            INSERT INTO rib
            SELECT hash_id, peer_hash_id, base_attr_hash_id, is_ipv4, origin_as, prefix,
                   prefix_len, timestamp, timestamp, is_withdrawn, path_id, labels,
                   is_pre_policy, is_adj_rib_in FROM src
            ON CONFLICT (peer_hash_id, hash_id) DO UPDATE SET
                base_attr_hash_id = CASE WHEN excluded.is_withdrawn
                                         THEN rib.base_attr_hash_id ELSE excluded.base_attr_hash_id END,
                origin_as = CASE WHEN excluded.is_withdrawn
                                 THEN rib.origin_as ELSE excluded.origin_as END,
                is_ipv4 = excluded.is_ipv4, prefix = excluded.prefix,
                prefix_len = excluded.prefix_len, timestamp = excluded.timestamp,
                is_withdrawn = excluded.is_withdrawn, path_id = excluded.path_id,
                labels = excluded.labels, is_pre_policy = excluded.is_pre_policy,
                is_adj_rib_in = excluded.is_adj_rib_in""")
        return b

    # -- probes used by the view checks --------------------------------
    def count_prefix(self, prefix: str) -> int:
        return self.con.execute(
            "SELECT count(*) FROM rib WHERE prefix = ? AND base_attr_hash_id IS NOT NULL",
            [prefix]).fetchone()[0]

    def count_peer(self, peer: str) -> int:
        return self.con.execute(
            "SELECT count(*) FROM rib WHERE peer_hash_id = ? AND base_attr_hash_id IS NOT NULL",
            [peer]).fetchone()[0]

    def count_history(self, prefix: str) -> int:
        return self.con.execute(
            "SELECT count(*) FROM rib_log WHERE prefix = ? AND base_attr_hash_id IS NOT NULL",
            [prefix]).fetchone()[0]

    def origin_pairs(self) -> None:
        """Fold the current (prefix, origin_as) pairs into the set a
        global-RIB consolidation must have produced so far."""
        self.con.execute("""
            CREATE TABLE IF NOT EXISTS pairs (prefix VARCHAR, recv_origin_as BIGINT)""")
        self.con.execute("""
            INSERT INTO pairs SELECT DISTINCT prefix, origin_as FROM rib
            WHERE origin_as != 23456 EXCEPT SELECT * FROM pairs""")

    # -- comparison ----------------------------------------------------
    def compare(self, table: str, paths: list[str]) -> dict:
        """Compare expected ``table`` (ip_rib | ip_rib_log |
        global_ip_rib) with the committed files under ``paths``.
        Returns {"rows", "hash", "actual_hash", "mismatches",
        "bad_batches"}."""
        c = self.con
        files = [f for p in paths for f in glob.glob(os.path.join(p, "**", "*.parquet"),
                                                     recursive=True)]
        if table == "ip_rib":
            cols, exp = RIB_COLS, "rib"
        elif table == "ip_rib_log":
            cols, exp = LOG_COLS, "rib_log"
        else:
            cols, exp = ("prefix", "recv_origin_as"), "pairs"
        c.execute(f"CREATE OR REPLACE TEMP VIEW e AS SELECT {_canon(cols)} FROM {exp}")
        if files:
            c.execute(f"CREATE OR REPLACE TEMP VIEW a AS SELECT {_canon(cols)} "
                      f"FROM read_parquet({_files_sql(files)}, union_by_name=true)")
        else:
            c.execute("CREATE OR REPLACE TEMP VIEW a AS SELECT * FROM e WHERE false")
        c.execute("""CREATE OR REPLACE TEMP TABLE d AS
                     (SELECT *, 'missing' AS side FROM (SELECT * FROM e EXCEPT ALL SELECT * FROM a))
                     UNION ALL
                     (SELECT *, 'extra' AS side FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM e))""")
        out = {"rows": c.execute("SELECT count(*) FROM e").fetchone()[0],
               "hash": self._hash("e", cols), "actual_hash": self._hash("a", cols),
               "mismatches": c.execute("SELECT count(*) FROM d").fetchone()[0]}
        out["bad_batches"] = self._bad_batches(table) if out["mismatches"] else []
        return out

    def _hash(self, view: str, cols) -> str:
        v = self.con.execute(
            f"SELECT sum(hash({', '.join(cols)})) % 18446744073709551616 FROM {view}").fetchone()[0]
        return format(int(v or 0), "016x")

    def _bad_batches(self, table: str) -> list[int]:
        """Batches that wrote a key whose row differs."""
        if table == "global_ip_rib":
            return []
        if table == "ip_rib":
            sql = "SELECT DISTINCT batch FROM msgs JOIN d USING (peer_hash_id, hash_id)"
        else:
            sql = ("SELECT DISTINCT batch FROM rib_log JOIN d "
                   "USING (peer_hash_id, prefix, timestamp)")
        return sorted(r[0] for r in self.con.execute(sql).fetchall())

    def close(self) -> None:
        self.con.close()


# ---------------------------------------------------------------------------
# registry queries against their oracles
# ---------------------------------------------------------------------------

REGISTRY_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                   "lineitem", "events", "documents", "embeddings")


def table_conn(table_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per source table of ``table_dir``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in REGISTRY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(table_dir, t + '.parquet')}')")
    return con


def _rows(df, cols) -> list[str]:
    return sorted(map(repr, df[cols].itertuples(index=False, name=None)))


def frame_mismatch(got, want) -> str:
    """'' when pandas frames ``got`` and ``want`` hold the same rows in
    any order (columns matched by name, values by ``repr``, as the
    repository's oracle tests compare them); otherwise the first
    difference."""
    if want is None:
        return "no oracle to check against"
    cols = sorted(got.columns)
    if cols != sorted(want.columns):
        return f"columns {cols} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for i, (a, b) in enumerate(zip(_rows(got, cols), _rows(want, cols))):
        if a != b:
            return f"sorted row {i}: {a[:120]} != {b[:120]}"
    return ""
