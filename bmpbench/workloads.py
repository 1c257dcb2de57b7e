"""The benchmark's workloads.

Each workload generates its inputs from the seed before Spark starts
(the engine sees only the generated files), sets up its starting state
through the package, measures for about ``seconds``, then checks the
committed output outside the timed region. Every operation is one
latency sample in ``Result.ops``.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import glob
import json
import math
import os
import statistics
import subprocess
import sys
import threading
import time

from bmpbench import check, procs, trace, wire


@dataclasses.dataclass
class Window:
    """One stretch of the measured region: CPU per op is the CPU of a
    run's windows over their ops."""
    wall_s: float
    cpu_s: float
    ops: int


@dataclasses.dataclass
class Result:
    ops: list = dataclasses.field(default_factory=list)   # {"kind", "lat_s", "ok", ...}
    windows: list = dataclasses.field(default_factory=list)
    rate: float = 0.0      # throughput_per_s: what one second of the program does
    attempted: int = 0
    failed: int = 0
    info: dict = dataclasses.field(default_factory=dict)    # workload-named figures
    layers: dict = dataclasses.field(default_factory=dict)  # inputs of layers.collect


_CGROUP = ("/sys/fs/cgroup/cpu.stat", "/sys/fs/cgroup/unified/cpu.stat")


def cpu_s() -> float:
    """Container CPU seconds (cgroup ``usage_usec``); this process
    tree's own counters where no cgroup file exists."""
    for path in _CGROUP:
        try:
            with open(path) as f:
                for line in f:
                    k, v = line.split()
                    if k == "usage_usec":
                        return int(v) / 1e6
        except OSError:
            continue
    t = os.times()
    return t.user + t.system + t.children_user + t.children_system


def quantile(xs: list[float], q: float) -> float:
    """Nearest-rank quantile; 0 for no samples."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return float(s[min(len(s) - 1, max(0, -(-int(q * 100) * len(s) // 100) - 1))])


TAIL_BEYOND = 10


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has
    ``TAIL_BEYOND`` samples beyond it -- the 11th-largest sample; the
    median when there are fewer than twice that many samples."""
    if len(xs) < 2 * TAIL_BEYOND:
        return quantile(xs, 0.5), 50.0
    return float(sorted(xs)[-TAIL_BEYOND - 1]), 100.0 * (1 - TAIL_BEYOND / len(xs))


class Workload:
    name = ""
    traffic: wire.Traffic

    def __init__(self, seed: int, seconds: float, work: str, traced: bool):
        self.seed, self.seconds, self.work, self.traced = seed, seconds, work, traced
        self.spark = None
        self.tracer = trace.Tracer()
        self.undo = None
        self.expected = check.Expected()

    # -- lifecycle -----------------------------------------------------
    def start_spark(self) -> None:
        from obmp_psql_spark.session import get_spark

        conf = {"spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.driver.memory": "3g",
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"}
        if self.traced:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.event_dir,
                         "spark.eventLog.compress": "false"})
        self.spark = get_spark(f"bmpbench-{self.name}", conf)
        self.tracer = trace.Tracer(self.spark.sparkContext, enabled=self.traced)
        if self.traced:
            self.undo = trace.install(self.tracer)

    def timed_setup(self) -> float:
        t = time.perf_counter()
        self.setup()
        return time.perf_counter() - t

    def timed_measure(self) -> Result:
        """``measure`` with its window recorded, for the traced run's
        span and event-log filters."""
        self.tracer.counters.clear()
        t0, t0_ms = time.perf_counter(), time.time() * 1e3
        res = self.measure()
        self.window = (t0, time.perf_counter())
        self.window_ms = (t0_ms, time.time() * 1e3)
        self.counters = dict(self.tracer.counters)
        return res

    def stop_spark(self) -> None:
        """Unwrap the package, stop every stream and the context, then
        end Spark's JVM and the Python workers it started and wait for
        them: ``SparkSession.stop`` leaves the JVM running until this
        process exits."""
        from pyspark import SparkContext

        if self.undo:
            self.undo()
            self.undo = None
        if self.spark is None:
            return
        try:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
        except Exception as e:
            # a run cut short mid-call can leave py4j unusable; the JVM
            # is ended below all the same
            print(f"bmpbench: Spark did not stop cleanly: {e!r}", file=sys.stderr)
        self.spark = None
        started = procs.tree()
        gw, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()   # the JVM exits on EOF on its stdin
        procs.end(started)
        if gw is not None:
            gw.proc.wait()

    def close(self) -> None:
        self.stop_spark()
        self.expected.close()

    # -- helpers -------------------------------------------------------
    def new_store(self):
        from obmp_psql_spark.state import TxnStateStore
        from obmp_psql_spark.streaming.pipeline import BmpStreamingIngest

        self.store = TxnStateStore(self.spark, os.path.join(self.work, "store"))
        self.ing = BmpStreamingIngest(self.spark, self.store)

    def apply_file(self, msg_type: str, path: str, batch_id: int) -> None:
        """One ``*_batch`` handler call over wire records read statically."""
        from obmp_psql_spark.sources.kafka import decode_kafka_records

        batch = decode_kafka_records(self.spark.read.parquet(path), msg_type).drop("kafka_key")
        self.ing.HANDLERS[msg_type](self.ing, batch, batch_id)

    def load_control(self) -> None:
        for mtype in ("collector", "router", "peer", "base_attribute"):
            self.apply_file(mtype, self.control[mtype], 0)

    def record_stream(self, path: str, max_files: int | None = None):
        """A file-source stand-in for the Kafka connector: a streaming
        DataFrame with Kafka's record columns. ``max_files`` files make
        one micro-batch."""
        reader = self.spark.readStream.schema(
            self.spark.read.parquet(self.control["collector"]).schema)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        return reader.parquet(path)

    def generate_rib(self) -> None:
        """Control-plane files and the RIB dump, one file per batch."""
        self.rib = wire.Rib(self.traffic, self.seed)
        self.control = self.rib.control_files(self.work, wire.T0)
        self.dump = []
        for i, batch in enumerate(self.rib.dump_batches(
                wire.T0 + dt.timedelta(hours=1), self.DUMP_BATCH)):
            self.dump.append(os.path.join(self.work, f"dump-{i:05d}.parquet"))
            wire.write_records(self.dump[-1], "unicast_prefix", batch)

    def check_store(self, res: Result, batch_files: list[list[str]]) -> set[int]:
        """Replay ``batch_files`` (batch i = the files at index i) in
        DuckDB, compare ip_rib and ip_rib_log; returns the batches that
        wrote a differing key (the last batch when none can be named)."""
        for files in batch_files:
            self.expected.apply(files)
        bad: set[int] = set()
        res.info["check"] = {}
        for table in ("ip_rib", "ip_rib_log"):
            cmp = self.expected.compare(table, self.store.current_paths(table))
            res.info["check"][table] = cmp
            if cmp["mismatches"]:
                bad.update(cmp["bad_batches"] or [len(batch_files) - 1])
        return bad

    def wire_bytes(self, files: list[str]) -> int:
        import pyarrow.parquet as pq
        return sum(sum(len(v) for v in pq.read_table(f, columns=["value"])
                       .column("value").to_pylist()) for f in files)

    def decode_pass(self, files: list[str]) -> dict:
        """sources layer, traced run only: decode every wire record of
        the measured region once more, on its own, and count the rows
        whose required fields did not parse."""
        from pyspark.sql import functions as F

        from obmp_psql_spark.sources.kafka import decode_kafka_records

        if not files:
            return {"decode_s": 0.0, "records": 0, "malformed": 0}
        with self.tracer.span("sources.decode"):
            t = time.perf_counter()
            dec = decode_kafka_records(self.spark.read.parquet(*files), "unicast_prefix")
            bad = (F.col("hash").isNull() | (F.col("hash") == "") | F.col("prefix").isNull()
                   | F.col("timestamp").isNull() | F.col("prefix_len").isNull())
            row = dec.agg(F.count(F.lit(1)).alias("n"),
                          F.sum(bad.cast("int")).alias("bad")).collect()[0]
            el = time.perf_counter() - t
        return {"decode_s": el, "records": row["n"], "malformed": row["bad"] or 0}

    def layer_metrics(self, res: Result) -> dict:
        from bmpbench import layers
        return layers.collect(self, res)


def _dump_rate(progress: list[dict]) -> dict:
    """Bulk-load figures of an availableNow run: the first micro-batch
    compiles the whole path (JIT, codegen, Python workers), so it is the
    warm-up; the rate runs from its end to the end of the last batch."""
    rows = [p for p in progress if p.get("numInputRows", 0) > 0]
    ends = [dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            + p["durationMs"]["triggerExecution"] / 1e3 for p in rows]
    msgs = sum(p["numInputRows"] for p in rows[1:])
    span = ends[-1] - ends[0] if len(ends) > 1 else 0.0
    return {"dump_msgs_per_s": msgs / span if span else 0.0,
            "dump_batches": len(rows),
            "dump_warmup_batch_s": rows[0]["durationMs"]["triggerExecution"] / 1e3
            if rows else 0.0}


# ---------------------------------------------------------------------------
# steady_churn: RIB dump in set-up, then an open loop at a fixed offered rate
# ---------------------------------------------------------------------------

class SteadyChurn(Workload):
    name = "steady_churn"
    traffic = wire.Traffic(peers=16, prefixes=750, v6_share=0.2, attrs_per_peer=8,
                           records_per_batch=100, withdraw_share=0.3, zipf_s=1.1,
                           repeat_share=0.1)
    DUMP_BATCH = 3000      # records per micro-batch of the set-up's RIB dump
    INTERVAL_S = 0.2       # one churn file every 0.2 s: 500 msg/s offered
    TRIGGER_S = 2.0        # longer than a HEAD micro-batch, so batches do not run back to back
    LEAD_S = 0.5           # at least this long from the stream start to the first file
    WARMUP_S = 2.0         # files fed, but not measured, while the new query warms up
    GRACE_S = 20.0         # a file not visible this long after the last due time fails

    def generate(self) -> None:
        self.generate_rib()
        self.n_warm = int(self.WARMUP_S / self.INTERVAL_S)
        self.n_files = self.n_warm + max(1, int(self.seconds / self.INTERVAL_S))
        self.stage = os.path.join(self.work, "stage")
        os.makedirs(self.stage)
        self.churn = []
        start = wire.T0 + dt.timedelta(hours=2)
        for i in range(self.n_files):
            self.churn.append(os.path.join(self.stage, f"churn-{i:05d}.parquet"))
            wire.write_records(self.churn[-1], "unicast_prefix", self.rib.churn_batch(start))

    def setup(self) -> None:
        """The RIB dump through the availableNow stream, one file per
        micro-batch, on the checkpoint the churn continues on. (The
        unicast_prefix sink reads no control-plane table; ops_mix, whose
        views join them, loads the control plane.)"""
        self.new_store()
        self.src = os.path.join(self.work, "src")
        os.makedirs(self.src)
        for i, p in enumerate(self.dump):
            dst = os.path.join(self.src, os.path.basename(p))
            os.link(p, dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))   # file-source order
        self.ckpt = os.path.join(self.work, "ckpt")
        q = self.ing.start_kafka_shaped_stream(
            "unicast_prefix", self.record_stream(self.src, max_files=1), self.ckpt,
            available_now=True)
        q.awaitTermination()
        self.dump_stats = _dump_rate(q.recentProgress)

    @staticmethod
    def _commits(seen: dict, log_dir: str) -> None:
        """Record the first time each txn-log commit is seen."""
        for name in os.listdir(log_dir):
            if name in seen or not name.endswith(".json") or name.startswith("."):
                continue
            now = time.perf_counter()
            try:
                with open(os.path.join(log_dir, name)) as f:
                    txn = json.load(f).get("txn") or {}
            except (OSError, ValueError):
                continue
            seen[name] = (now, txn)

    @staticmethod
    def _visible(seen: dict, base: set) -> dict[int, float]:
        """unicast_prefix batch id -> time its commit became visible."""
        return {int(t["version"]): when for name, (when, t) in seen.items()
                if name not in base and t.get("app") == "unicast_prefix"}

    def _file_batches(self) -> dict[str, int]:
        """basename -> micro-batch id, from the file source's metadata log
        (compacted files included)."""
        out = {}
        for path in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            try:
                with open(path) as f:
                    lines = f.read().splitlines()[1:]     # first line: version
            except OSError:
                continue
            for line in lines:
                try:
                    e = json.loads(line)
                except ValueError:
                    continue
                out[os.path.basename(e["path"])] = int(e["batchId"])
        return out

    def _pending(self, vis: dict) -> int:
        batch_of = self._file_batches()
        return sum(batch_of.get(os.path.basename(p)) not in vis for p in self.churn)

    def measure(self) -> Result:
        res = Result()
        log_dir = os.path.join(self.store.root, "_txn_log")
        seen: dict = {}
        self._commits(seen, log_dir)
        base = set(seen)   # the set-up's commits
        q = self.ing.start_kafka_shaped_stream(
            "unicast_prefix", self.record_stream(self.src), self.ckpt,
            trigger_interval=f"{self.TRIGGER_S:g} seconds")
        # Spark fires processing-time triggers on multiples of the interval
        # since the epoch. Files land half an interval step after a tick and
        # a whole number of files per tick, so every run puts the same
        # files into the same micro-batches.
        tick = math.ceil((time.time() + self.LEAD_S) / self.TRIGGER_S) * self.TRIGGER_S
        t_feed = time.perf_counter() + (tick + self.INTERVAL_S / 2 - time.time())
        due = [t_feed + i * self.INTERVAL_S for i in range(self.n_files)]
        t0 = due[self.n_warm]
        landed = [None] * self.n_files
        stop = threading.Event()

        def feed():
            for i, path in enumerate(self.churn):
                wait = due[i] - time.perf_counter()
                if wait > 0 and stop.wait(wait):
                    return
                os.rename(path, os.path.join(self.src, os.path.basename(path)))
                landed[i] = time.perf_counter()

        gen = threading.Thread(target=feed, daemon=True)
        gen.start()
        backlog_end = cpu0 = None
        try:
            while True:
                self._commits(seen, log_dir)
                now = time.perf_counter()
                if cpu0 is None and now >= t0:
                    # CPU from the first measured file's due time, past
                    # the new query's start and the warm-up files' feed
                    cpu0 = cpu_s()
                if backlog_end is None and now >= due[-1]:
                    backlog_end = self._pending(self._visible(seen, base))
                if now >= due[-1] + self.GRACE_S or (
                        not gen.is_alive() and self._pending(self._visible(seen, base)) == 0):
                    break
                time.sleep(0.005)
        finally:
            stop.set()
            gen.join(timeout=5)
            progress = list(q.recentProgress)
            q.stop()
        self.batch_of = self._file_batches()
        vis = self._visible(seen, base)
        # the warm-up files are checked with the rest but not measured
        for i, path in enumerate(self.churn):
            b = self.batch_of.get(os.path.basename(path))
            ok = b in vis
            res.ops.append({"kind": "warmup" if i < self.n_warm else "file", "batch": b,
                            "ok": ok, "lat_s": (vis[b] if ok else due[-1] + self.GRACE_S) - due[i]})
        self.warm_ops, res.ops = res.ops[:self.n_warm], res.ops[self.n_warm:]
        self._count(res, 0)
        wall = max([vis[b] for b in vis] or [t0]) - t0
        res.windows = [Window(wall_s=wall, cpu_s=cpu_s() - cpu0, ops=len(res.ops))]
        # the open loop runs at the offered rate while the sink keeps up,
        # so the program's own throughput is the set-up's bulk load
        res.rate = self.dump_stats["dump_msgs_per_s"]
        delivered = self.traffic.records_per_batch * sum(o["ok"] for o in res.ops)
        lats = [o["lat_s"] for o in res.ops]
        res.info.update({"fresh_p50_s": quantile(lats, 0.5), "fresh_p90_s": quantile(lats, 0.9),
                         "offered_msgs_per_s": self.traffic.records_per_batch / self.INTERVAL_S,
                         "delivered_msgs_per_s": delivered / wall if wall > 0 else 0.0,
                         "files": len(res.ops), "warmup_files": self.n_warm, **self.dump_stats})
        landed_late = [landed[i] - due[i] for i in range(self.n_files) if landed[i] is not None]
        res.layers.update({"progress": progress, "backlog_files_end": backlog_end or 0,
                           "gen_late_s_max": max(landed_late, default=0.0),
                           "dump_msgs_per_s": self.dump_stats["dump_msgs_per_s"]})
        return res

    def check(self, res: Result) -> None:
        """Replay every micro-batch of the checkpoint (dump and churn) in
        batch order; a churn batch that wrote a differing key fails each
        of its files."""
        by_batch: dict[int, list[str]] = {}
        for name, b in self.batch_of.items():
            by_batch.setdefault(b, []).append(os.path.join(self.src, name))
        order = sorted(by_batch)
        bad = self.check_store(res, [sorted(by_batch[b]) for b in order])
        bad_ids = {order[i] for i in bad}
        churn_ids = {o["batch"] for o in self.warm_ops + res.ops}
        dump_ids = set(order) - churn_ids
        res.info["check_failed_batches"] = sorted(bad_ids)
        for o in self.warm_ops + res.ops:
            if o["ok"] and o["batch"] in bad_ids:
                o["ok"] = False
        self._count(res, len(bad_ids & dump_ids))

    def _count(self, res: Result, bad_dump_batches: int) -> None:
        """Measured files, plus a failed warm-up file or dump batch
        once each."""
        extra = sum(not o["ok"] for o in self.warm_ops) + bad_dump_batches
        res.attempted = len(res.ops) + extra
        res.failed = sum(not o["ok"] for o in res.ops) + extra

    def layer_extra(self, res: Result) -> dict:
        files = [os.path.join(self.src, os.path.basename(p)) for p in self.churn]
        files = [f for f in files if os.path.exists(f)]
        return {"wire_bytes": self.wire_bytes(files), "decode": self.decode_pass(files),
                "dump_1core": self.one_core_dump()}

    def one_core_dump(self) -> float:
        """engine layer: the single-core baseline of the set-up's RIB dump
        -- the same set-up on ``local[1]``, in a child process."""
        work = os.path.join(self.work, "one_core")
        os.makedirs(work)
        child = subprocess.Popen(
            [sys.executable, "-m", "bmpbench.workloads", str(self.seed), work],
            env=dict(os.environ, SPARK_GRAFT_CPUS="1"), cwd=work,
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        try:
            stdout, _ = child.communicate(timeout=170)
        finally:
            # on a timeout or an error the child ends its JVM and
            # workers itself, as the runner does on SIGTERM
            started = procs.tree(child.pid)
            child.terminate()
            try:
                child.wait(timeout=30)
            except subprocess.TimeoutExpired:
                child.kill()
                child.wait()
            procs.end(started, grace=0)
        if child.returncode != 0:
            return 0.0
        return json.loads(stdout.strip().splitlines()[-1])["dump_msgs_per_s"]


# ---------------------------------------------------------------------------
# the registry pass: a fixed subset of the registered queries, each
# checked against its oracle
# ---------------------------------------------------------------------------

class RegistryPass:
    """The registry pass of ops_mix's client: each query once, in sorted
    order, forced by collecting its result to the driver."""
    # one query of each queries_* module but queries_bmp (its gate
    # pipelines are the handlers the workloads drive directly), chosen
    # among the cheap ones for the run budget, plus q_ann_topk;
    # q_image_neardup's Python workers import the package, so it fails
    # when the workers cannot find it
    QUERIES = tuple(sorted((
        "q_sessionize", "q_knn_classify", "q_rpki_containment", "q_holt_winters",
        "q_stream_window", "q_image_neardup", "q_ann_topk")))

    def __init__(self, work: str, seed: int):
        from bmpbench import tables
        self.tables = os.path.join(work, "tables")
        tables.write_tables(self.tables, seed)
        self.results: dict = {}

    @staticmethod
    def module(spec) -> str:
        """The ``queries_*`` module that registered ``spec``."""
        return spec.fn.__module__.rsplit(".", 1)[-1]

    def run(self, wl: Workload, res: Result) -> None:
        """One op per query, and one window for the whole pass."""
        from obmp_psql_spark import registry
        from obmp_psql_spark.operators.cache import release_build_artifacts

        self.specs = registry.all_specs()
        t0, cpu0, n0 = time.perf_counter(), cpu_s(), len(res.ops)
        for name in self.QUERIES:
            module = self.module(self.specs[name])

            def query(name=name):
                out = self.specs[name].fn(wl.spark, self.tables).toPandas()
                # build-once artifacts are released inside the query's
                # own time, as the repository's bench pass does
                release_build_artifacts()
                self.results[name] = out

            wl._op(res, f"registry.{module}.{name}", query, -1)
        wall = time.perf_counter() - t0
        res.windows.append(Window(wall_s=wall, cpu_s=cpu_s() - cpu0, ops=len(res.ops) - n0))
        res.info["registry_pass_s"] = wall

    def check(self, res: Result) -> dict:
        """Each query against its registered DuckDB oracle on the same
        tables: columns by name, row count, then the rows in any order;
        a mismatch fails the query's op."""
        con = check.table_conn(self.tables)
        bad = {}
        try:
            for o in res.ops:
                name = o["kind"].rsplit(".", 1)[-1]
                if not (o["kind"].startswith("registry.") and o["ok"]):
                    continue
                sql = self.specs[name].oracle_for(self.tables)
                why = check.frame_mismatch(self.results[name],
                                           con.execute(sql).fetchdf() if sql else None)
                if why:
                    o["ok"] = False
                    bad[name] = why
        finally:
            con.close()
        return bad


# ---------------------------------------------------------------------------
# ops_mix: closed loop of churn batch, cron cycle and view reads
# ---------------------------------------------------------------------------

class OpsMix(Workload):
    name = "ops_mix"
    traffic = wire.Traffic(peers=16, prefixes=750, v6_share=0.2, attrs_per_peer=8,
                           records_per_batch=500, withdraw_share=0.3, zipf_s=1.1,
                           repeat_share=0.1)
    DUMP_BATCH = 12_000        # the preload is one handler call
    CYCLES = 2                 # a fixed number of cycles: the same work in every run
    MAINTENANCE_EVERY = 2
    CYCLE = dt.timedelta(minutes=1)   # generated time between cycles

    def generate(self) -> None:
        self.generate_rib()
        self.t_pre = wire.T0 + dt.timedelta(hours=1)
        self.cycles = []
        for c in range(self.CYCLES):
            start = self.t_pre + (c + 1) * self.CYCLE
            path = os.path.join(self.work, f"churn-{c:05d}.parquet")
            batch = self.rib.churn_batch(start)
            wire.write_records(path, "unicast_prefix", batch)
            self.rib.clock = 0
            first = batch[0][1].decode().split("\t")
            self.cycles.append({"path": path, "now": start + self.CYCLE,
                                "prefix": first[6], "peer": first[2]})
        self.rpki, self.irr = self._lookup_files()
        self.registry = RegistryPass(self.work, self.seed)

    def _lookup_files(self) -> tuple[str, str]:
        """ROA export and RPSL dump covering a slice of the prefixes."""
        import random
        rng = random.Random(self.seed + 1)
        roas, routes = [], []
        for prefix, plen, v4, _ in self.rib.prefixes:
            if rng.random() < 0.5:
                roas.append({"prefix": f"{prefix}/{plen}", "maxLength": plen + (0 if v4 else 8),
                             "asn": f"AS{1000 + rng.randrange(4000)}"})
            if rng.random() < 0.3:
                routes.append(f"route: {prefix}/{plen}\norigin: AS{1000 + rng.randrange(4000)}"
                              f"\ndescr: bench route\nsource: RADB")
        rpki = os.path.join(self.work, "roas.json")
        with open(rpki, "w") as f:
            json.dump({"roas": roas}, f)
        irr = os.path.join(self.work, "routes.rpsl")
        with open(irr, "w") as f:
            f.write("\n\n".join(routes) + "\n")
        return rpki, irr

    def setup(self) -> None:
        """Control plane, the preloaded RIB, the RPKI/IRR dims, and one
        cron cycle, so the measured cycles start from caught-up jobs."""
        from obmp_psql_spark.jobs import JobRunner
        from obmp_psql_spark.sources import lookups

        self.new_store()
        self.load_control()
        self.apply_file("unicast_prefix", self.dump[0], 0)
        with self.tracer.span("lookups.load", always=True) as sp:
            self.store.overwrite("rpki_validator", lookups.load_rpki_roas_json(
                self.spark, self.rpki, now=self.t_pre))
            self.store.overwrite("info_route", lookups.load_irr_rpsl(
                self.spark, self.irr, now=self.t_pre))
        self.lookups_load_s = sp["end"] - sp["start"]
        self.jobs = JobRunner(self.store)
        now = self.t_pre + self.CYCLE
        self.jobs.run_chg_stats(now=now)
        self.jobs.run_global_rib(now=now)
        self.jobs.run_peer_rib_counts(now=now)
        self.jobs.run_origin_stats(now=now)

    def _views(self, cyc: dict) -> list[tuple[str, object]]:
        from pyspark.sql import functions as F

        from obmp_psql_spark.plans import views

        st = self.store
        rib, peers, attrs, rtr = (st.read("ip_rib"), st.read("bgp_peers"),
                                  st.read("base_attrs"), st.read("routers"))
        routes = views.v_ip_routes(rib, peers, attrs, rtr)
        return [
            ("v_ip_routes_prefix", lambda: routes.filter(F.col("prefix") == cyc["prefix"]).collect()),
            ("v_ip_routes_peer", lambda: routes.filter(F.col("peer_hash_id") == cyc["peer"])
             .select("prefix", "prefix_len", "is_withdrawn", "base_hash_id").collect()),
            ("v_peers", lambda: views.v_peers(peers, rtr, st.read("info_asn")).collect()),
            ("v_ip_routes_history", lambda: views.v_ip_routes_history(
                st.read("ip_rib_log"), peers, attrs, rtr)
             .filter(F.col("prefix") == cyc["prefix"]).collect()),
        ]

    def _op(self, res: Result, kind: str, fn, cycle: int):
        t = time.perf_counter()
        try:
            with self.tracer.span(kind, ident=cycle, always=True):
                out = fn()
            ok = True
        except Exception as e:  # an op that raises is a counted failure
            out, ok = None, False
            res.info.setdefault("errors", []).append(f"{kind}: {type(e).__name__}: {e}"[:300])
        res.ops.append({"kind": kind, "lat_s": time.perf_counter() - t, "ok": ok,
                        "cycle": cycle})
        return out

    def _cycle(self, res: Result, c: int) -> None:
        """Cycle ``c``: churn batch ``c + 1``, the cron jobs, the views."""
        cyc = self.cycles[c]
        now = cyc["now"]
        t0, cpu0, n0 = time.perf_counter(), cpu_s(), len(res.ops)
        self._op(res, "ingest", lambda: self.apply_file("unicast_prefix", cyc["path"], c + 1), c)
        self._op(res, "jobs.chg_stats", lambda: self.jobs.run_chg_stats(now=now), c)
        self._op(res, "jobs.global_rib", lambda: self.jobs.run_global_rib(now=now), c)
        self._op(res, "jobs.peer_rib_counts", lambda: self.jobs.run_peer_rib_counts(now=now), c)
        self._op(res, "jobs.origin_stats", lambda: self.jobs.run_origin_stats(now=now), c)
        if (c + 1) % self.MAINTENANCE_EVERY == 0:
            self._op(res, "jobs.maintenance", lambda: self.jobs.run_maintenance(), c)
        for name, fn in self._views(cyc):
            rows = self._op(res, f"views.{name}", fn, c)
            self.views_seen.append((c, name, None if rows is None else len(rows)))
        res.windows.append(Window(wall_s=time.perf_counter() - t0, cpu_s=cpu_s() - cpu0,
                                  ops=len(res.ops) - n0))

    def measure(self) -> Result:
        res = Result()
        self.views_seen = []
        for c in range(len(self.cycles)):
            self._cycle(res, c)
        # churn records per second of a whole cycle, median over cycles
        res.rate = statistics.median(self.traffic.records_per_batch / w.wall_s
                                     for w in res.windows)
        self.registry.run(self, res)
        res.attempted = len(res.ops)
        res.failed = sum(not o["ok"] for o in res.ops)
        res.layers["rows_returned"] = sum(n or 0 for _, _, n in self.views_seen)
        by: dict[str, list[float]] = {}
        for o in res.ops:
            by.setdefault(o["kind"].split(".")[0], []).append(o["lat_s"])
        res.info.update({"cycles": len(self.cycles),
                         **{f"ops_{k}_p50_s": quantile(v, 0.5) for k, v in by.items()},
                         "ops_view_p90_s": quantile(by.get("views", []), 0.9)})
        return res

    def check(self, res: Result) -> None:
        """Replay preload + cycles; compare the view row counts of each
        cycle, then ip_rib, ip_rib_log and the global RIB's
        (prefix, origin) pairs."""
        exp = self.expected
        exp.apply([self.dump[0]])
        exp.origin_pairs()   # the set-up's cron cycle
        want = {}
        for c, cyc in enumerate(self.cycles):
            exp.apply([cyc["path"]])
            exp.origin_pairs()   # run_global_rib runs right after the batch
            want[(c, "v_ip_routes_prefix")] = exp.count_prefix(cyc["prefix"])
            want[(c, "v_ip_routes_peer")] = exp.count_peer(cyc["peer"])
            want[(c, "v_peers")] = self.traffic.peers
            want[(c, "v_ip_routes_history")] = exp.count_history(cyc["prefix"])
        view_ops = [o for o in res.ops if o["kind"].startswith("views.")]
        bad_views = []
        for o, (c, name, n) in zip(view_ops, self.views_seen):
            if n is not None and n != want[(c, name)]:
                o["ok"] = False
                bad_views.append([c, name, n, want[(c, name)]])
        out = {t: exp.compare(t, self.store.current_paths(t))
               for t in ("ip_rib", "ip_rib_log", "global_ip_rib")}
        last = len(self.cycles) - 1
        for t, kind in (("ip_rib", "ingest"), ("ip_rib_log", "ingest"),
                        ("global_ip_rib", "jobs.global_rib")):
            if out[t]["mismatches"]:
                # a batch that wrote a differing key fails its ingest op;
                # differences no batch can be named for fail the last op
                cycles = {b - 1 for b in out[t]["bad_batches"] if b > 0} or {last}
                for o in res.ops:
                    if o["kind"] == kind and o["cycle"] in cycles:
                        o["ok"] = False
        res.info["registry_mismatches"] = self.registry.check(res)
        res.failed = sum(not o["ok"] for o in res.ops)
        res.info.update({"check": out, "view_mismatches": bad_views})
        res.layers["lookups_load_s"] = self.lookups_load_s

    def layer_extra(self, res: Result) -> dict:
        files = [cyc["path"] for cyc in self.cycles]
        return {"wire_bytes": self.wire_bytes(files), "decode": self.decode_pass(files)}


WORKLOADS = {w.name: w for w in (SteadyChurn, OpsMix)}


def _one_core_setup(seed: int, work: str) -> None:
    """Child process of ``SteadyChurn.one_core_dump``: the set-up alone,
    then its dump figures as one JSON line."""
    wl = SteadyChurn(seed, 0, work, False)
    try:
        wl.generate()
        wl.start_spark()
        wl.setup()
        print(json.dumps(wl.dump_stats))
    finally:
        wl.close()


if __name__ == "__main__":
    import signal
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _one_core_setup(int(sys.argv[1]), sys.argv[2])
