"""Seeded BMP wire generator.

Writes Kafka-record-shaped parquet files (key, value, topic, partition,
offset, timestamp, timestampType) whose values are the openbmp TSV
payloads the package parses (``sources/tsv.py``): collector, router,
peer, base_attribute and unicast_prefix messages.

Everything is drawn from one ``random.Random(seed)``, and the parquet
writer options are pinned, so the same seed gives byte-identical files.
Record timestamps strictly increase across the whole stream, so
"latest per key" is never a tie and the expected state is unique.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import hashlib
import ipaddress
import os
import random
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

# All generated timestamps are naive UTC, at or after this instant.
T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
TS_FMT = "%Y-%m-%d %H:%M:%S.%f"
TOPIC = "openbmp.parsed."
PARTITIONS = 8

RECORD_SCHEMA = pa.schema([
    ("key", pa.binary()), ("value", pa.binary()), ("topic", pa.string()),
    ("partition", pa.int32()), ("offset", pa.int64()),
    ("timestamp", pa.timestamp("us")), ("timestampType", pa.int32()),
])


@dataclasses.dataclass(frozen=True)
class Traffic:
    """The traffic dimensions of one workload."""

    peers: int
    prefixes: int            # unique prefixes; every peer carries all
    v6_share: float
    attrs_per_peer: int
    records_per_batch: int   # churn records per batch (file)
    withdraw_share: float = 0.0
    zipf_s: float = 0.0       # churn key skew (0 = uniform)
    repeat_share: float = 0.0  # share of a batch that re-hits a key of the same batch


def _hex(*parts) -> str:
    return hashlib.md5("|".join(map(str, parts)).encode()).hexdigest()


def _tsv(fields) -> bytes:
    out = []
    for v in fields:
        if v is None:
            out.append("")
        elif isinstance(v, bool):
            out.append("1" if v else "0")
        elif isinstance(v, dt.datetime):
            out.append(v.strftime(TS_FMT))
        else:
            out.append(str(v))
    return "\t".join(out).encode()


def write_records(path: str, msg_type: str, rows: list[tuple]) -> None:
    """``rows``: (key str, tsv bytes, timestamp) -> one parquet file of
    Kafka records, offsets numbered per partition."""
    offsets = [0] * PARTITIONS
    cols: dict[str, list] = {n: [] for n in RECORD_SCHEMA.names}
    for key, value, ts in rows:
        part = zlib.crc32(key.encode()) % PARTITIONS
        cols["key"].append(key.encode())
        cols["value"].append(value)
        cols["topic"].append(TOPIC + msg_type)
        cols["partition"].append(part)
        cols["offset"].append(offsets[part])
        cols["timestamp"].append(ts)
        cols["timestampType"].append(0)
        offsets[part] += 1
    table = pa.table(cols, schema=RECORD_SCHEMA)
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy", write_statistics=False)
    os.replace(tmp, path)


class Rib:
    """The generated routing universe: one collector, a few routers,
    ``peers`` peers that each carry every one of ``prefixes`` prefixes,
    and ``attrs_per_peer`` path attribute sets per peer."""

    def __init__(self, traffic: Traffic, seed: int):
        self.t = traffic
        self.rng = random.Random(seed)
        rng = self.rng
        self.collector = _hex("collector", seed)
        self.routers = [_hex("router", seed, i) for i in range(max(1, traffic.peers // 8))]
        self.peers = [_hex("peer", seed, i) for i in range(traffic.peers)]
        self.peer_asn = [64512 + rng.randrange(1000) for _ in self.peers]
        self.prefixes = self._prefixes(rng, traffic.prefixes, traffic.v6_share)
        # attr j of peer p: (hash, origin_asn, as_path)
        self.attrs = []
        for p, peer in enumerate(self.peers):
            row = []
            for j in range(traffic.attrs_per_peer):
                origin = 1000 + rng.randrange(4000)
                hops = [self.peer_asn[p]] + [1000 + rng.randrange(60000)
                                             for _ in range(rng.randrange(3))] + [origin]
                row.append((_hex("attr", seed, p, j), origin, " ".join(map(str, hops))))
            self.attrs.append(row)
        # current per-key attr index, or -1 when withdrawn
        self.cur: dict[tuple[int, int], int] = {}
        self.clock = 0  # microseconds after the stream start

    @staticmethod
    def _prefixes(rng, n: int, v6_share: float) -> list[tuple[str, int, bool, str]]:
        seen = set()
        out = []
        while len(out) < n:
            if rng.random() < v6_share:
                plen = rng.choice((32, 40, 48, 48, 48))
                net = ipaddress.IPv6Network(
                    (0x2001 << 112 | rng.getrandbits(96) << 16, 128),
                    strict=False).supernet(new_prefix=plen)
                v4 = False
            else:
                plen = rng.choice((16, 20, 22, 24, 24, 24))
                net = ipaddress.IPv4Network(
                    (rng.randrange(1 << 24, 224 << 24), 32)).supernet(new_prefix=plen)
                v4 = True
            key = (str(net.network_address), plen)
            if key in seen:
                continue
            seen.add(key)
            out.append((key[0], plen, v4, _hex("prefix", key[0], plen)))
        return out

    # -- control plane -------------------------------------------------
    def control_files(self, out_dir: str, start: dt.datetime) -> dict[str, str]:
        """collector, router, peer and base_attribute files, timestamped
        from ``start`` on; returns msg_type -> path."""
        ts = [start]

        def tick():
            ts[0] += dt.timedelta(microseconds=1)
            return ts[0]

        c = tick()
        coll = [(self.collector, _tsv(("started", self.collector, "bench",
                                       ",".join(self.routers), len(self.routers), c)), c)]
        rtr = []
        for i, r in enumerate(self.routers):
            t = tick()
            rtr.append((r, _tsv(("init", r, f"rtr{i}", f"198.51.100.{i + 1}", "bench router",
                                 0, "", "", "", f"198.51.100.{i + 1}", self.collector, t)), t))
        peer = []
        for i, p in enumerate(self.peers):
            t = tick()
            ip = f"192.0.{2 + i // 250}.{1 + i % 250}"
            peer.append((p, _tsv((
                "up", p, self.routers[i % len(self.routers)], "", True, ip, f"peer{i}",
                ip, self.peer_asn[i], False, False, "10.0.0.1", "10.0.0.1", 179, 90,
                65000, 40000 + i, 90, "MP", "MP", 0, 0, 0, "", False, False, "", t)), t))
        attr = []
        for i, p in enumerate(self.peers):
            for h, origin, path in self.attrs[i]:
                t = tick()
                attr.append((p, _tsv((
                    h, p, "igp", path, len(path.split()), origin, f"192.0.2.{1 + i % 250}",
                    0, 100, False, "", f"{origin}:100 {origin}:200", "", "", "", "",
                    True, t)), t))
        paths = {}
        for mtype, rows in (("collector", coll), ("router", rtr), ("peer", peer),
                            ("base_attribute", attr)):
            paths[mtype] = os.path.join(out_dir, f"{mtype}.parquet")
            write_records(paths[mtype], mtype, rows)
        return paths

    # -- unicast_prefix ------------------------------------------------
    def _record(self, p: int, k: int, attr: int, start: dt.datetime) -> tuple:
        """One unicast_prefix record for (peer p, prefix k); ``attr`` -1
        = withdraw."""
        self.clock += 1
        ts = start + dt.timedelta(microseconds=self.clock)
        prefix, plen, v4, h = self.prefixes[k]
        if attr < 0:
            fields = ("del", h, self.peers[p], "", v4, 0, prefix, plen, True,
                      0, "", False, True, ts)
        else:
            a, origin, _ = self.attrs[p][attr]
            fields = ("add", h, self.peers[p], a, v4, origin, prefix, plen, False,
                      0, "", False, True, ts)
        self.cur[(p, k)] = attr
        return (self.peers[p], _tsv(fields), ts)

    def dump_batches(self, start: dt.datetime, size: int):
        """The full table of every peer, in peer-interleaved prefix
        order, cut into batches of ``size`` records."""
        rng = self.rng
        order = [(p, k) for k in range(len(self.prefixes)) for p in range(len(self.peers))]
        batch = []
        for p, k in order:
            batch.append(self._record(p, k, rng.randrange(self.t.attrs_per_peer), start))
            if len(batch) == size:
                yield batch
                batch = []
        if batch:
            yield batch

    def churn_batch(self, start: dt.datetime, n: int | None = None) -> list[tuple]:
        """One batch of churn over the loaded RIB: Zipf-skewed keys;
        withdraws, re-advertisements of withdrawn keys and attribute
        changes; ``repeat_share`` of the records re-hit a key already
        in this batch."""
        rng, t = self.rng, self.t
        n = n or t.records_per_batch
        keys = self._zipf_keys(n)
        out, used = [], []
        for key in keys:
            if used and rng.random() < t.repeat_share:
                key = rng.choice(used)
            p, k = key
            cur = self.cur.get(key, -1)
            if cur < 0:
                attr = rng.randrange(t.attrs_per_peer)          # re-advertise
            elif rng.random() < t.withdraw_share:
                attr = -1                                        # withdraw
            else:
                attr = (cur + 1 + rng.randrange(t.attrs_per_peer - 1)) % t.attrs_per_peer
            out.append(self._record(p, k, attr, start))
            used.append(key)
        return out

    def _zipf_keys(self, n: int) -> list[tuple[int, int]]:
        if not hasattr(self, "_cum"):
            nkeys = len(self.peers) * len(self.prefixes)
            perm = list(range(nkeys))
            self.rng.shuffle(perm)
            self._perm = perm
            s = self.t.zipf_s
            acc, cum = 0.0, []
            for r in range(1, nkeys + 1):
                acc += 1.0 / r ** s
                cum.append(acc)
            self._cum = cum
        idx = self.rng.choices(self._perm, cum_weights=self._cum, k=n)
        np_ = len(self.peers)
        return [(i % np_, i // np_) for i in idx]

