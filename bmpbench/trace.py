"""Spans, Spark job tagging and the event-log reducer for the traced run.

A ``Tracer`` keeps spans in memory (name, start, end, parent, batch or
cycle id, thread) and writes them once, at the end. While a span is
open, the Spark jobs its thread starts carry the span's path (its
name after its ancestors', ``/``-joined) in the local property
``bmpbench.span``; the Spark event log then attributes executor CPU,
GC, shuffle, spill and task counts to that path. Jobs
started by a thread no span reached (Spark's own streaming thread, or
a pool thread the package starts) are reported as ``unattributed``.

``install`` wraps the package's layer entry points for the traced run
only; the untraced run measures the package unwrapped.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time

TAG = "bmpbench.span"


class Tracer:
    """Records spans; ``enabled=False`` records only the spans the
    workload itself times (``always=True``) and tags no Spark jobs."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc if enabled else None
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._open_phase: dict[int, contextlib.AbstractContextManager] = {}
        self.root = None

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current_path(self) -> str:
        """Path of the innermost span open in this thread ('' for none)."""
        st = self._stack()
        top = st[-1] if st else self.root
        return top["path"] if top else ""

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counters[key] = self.counters.get(key, 0.0) + value

    @contextlib.contextmanager
    def span(self, name: str, ident=None, always: bool = False, as_root: bool = False):
        """``as_root``: spans that threads without an open span start
        while this one is open become its children."""
        if not (self.enabled or always):
            yield None
            return
        st = self._stack()
        parent = st[-1] if st else self.root
        path = f"{parent['path']}/{name}" if parent else name
        rec = {"name": name, "path": path,
               "id": ident if ident is not None else (parent or {}).get("id"),
               "parent": parent["seq"] if parent else None, "thread": threading.get_ident(),
               "start": time.perf_counter(), "end": None}
        with self._lock:
            rec["seq"] = len(self.spans)
            self.spans.append(rec)
        st.append(rec)
        prev = self._tag(path)
        prev_root = self.root
        if as_root:
            self.root = rec
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            st.pop()
            self._untag(prev)
            if as_root:
                self.root = prev_root

    def open_phase(self, name: str) -> None:
        """Open a span that the next ``close_phase`` in this thread ends
        (for a phase whose end is the start of the next call)."""
        if not self.enabled:
            return
        cm = self.span(name)
        cm.__enter__()
        self._open_phase[threading.get_ident()] = cm

    def close_phase(self) -> None:
        cm = self._open_phase.pop(threading.get_ident(), None)
        if cm is not None:
            cm.__exit__(None, None, None)

    def _tag(self, name: str):
        if self.sc is None:
            return None
        prev = self.sc.getLocalProperty(TAG)
        self.sc.setLocalProperty(TAG, name)
        return prev

    def _untag(self, prev) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(TAG, prev)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": self.counters}, f)


# ---------------------------------------------------------------------------
# span arithmetic
# ---------------------------------------------------------------------------

def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, dict]:
    """name -> {"n", "wall_s", "self_s", "self_le_wall"}: self time is a
    span's duration minus the time its children cover (children may
    overlap each other when the package stages writes concurrently).
    Children are taken as recorded, not clipped to the parent, so
    ``self_le_wall`` is false for a span with a child outside its
    interval, where the time the children cover would exceed the wall."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, dict] = {}
    for s in spans:
        if s["end"] is None:
            continue
        wall = s["end"] - s["start"]
        kids = children.get(s["seq"], [])
        inside = all(c["start"] >= s["start"] and c["end"] <= s["end"] for c in kids)
        self_s = wall - _union_length([(c["start"], c["end"]) for c in kids])
        agg = out.setdefault(s["name"], {"n": 0, "wall_s": 0.0, "self_s": 0.0,
                                         "self_le_wall": True})
        agg["n"] += 1
        agg["wall_s"] += wall
        agg["self_s"] += self_s
        agg["self_le_wall"] &= inside and 0.0 <= self_s <= wall
    return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def _zero() -> dict:
    return {"executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0, "tasks": 0, "records_read": 0, "jobs": 0, "stages": 0}


def reduce_event_log(path: str, window: tuple[float, float] | None = None
                     ) -> dict[str, dict]:
    """Spark event log (JSON lines; a file or a directory of them) ->
    tag -> totals. Tasks are attributed through stage -> job -> the
    ``bmpbench.span`` property of the job; untagged jobs land under
    ``unattributed``. ``__all__`` holds the grand totals. ``window``
    (epoch ms) keeps only the jobs submitted inside it."""
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(root, f) for root, _, names in os.walk(path)
        for f in names if not f.startswith((".", "appstatus")))
    stage_tag: dict[int, str] = {}
    out: dict[str, dict] = {"__all__": _zero()}
    for fp in files:
        with open(fp) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sub = ev.get("Submission Time", 0)
                    if window and not window[0] <= sub <= window[1]:
                        continue
                    tag = (ev.get("Properties") or {}).get(TAG) or "unattributed"
                    stages = ev.get("Stage IDs") or [s["Stage ID"] for s in ev.get("Stage Infos", [])]
                    for sid in stages:
                        stage_tag[sid] = tag
                    for t in (tag, "__all__"):
                        out.setdefault(t, _zero())["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid not in stage_tag:
                        continue
                    for t in (stage_tag[sid], "__all__"):
                        out.setdefault(t, _zero())["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    if ev["Stage ID"] not in stage_tag:
                        continue
                    m = ev.get("Task Metrics") or {}
                    tag = stage_tag[ev["Stage ID"]]
                    sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    spill = m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    rec = (m.get("Input Metrics") or {}).get("Records Read", 0)
                    for t in (tag, "__all__"):
                        a = out.setdefault(t, _zero())
                        a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                        a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                        a["shuffle_write_mb"] += sw / 1e6
                        a["spill_mb"] += spill / 1e6
                        a["tasks"] += 1
                        a["records_read"] += rec
    return out


def layer_of(path: str) -> str:
    """The layer a span path is charged to: a cron job, a view read or
    a registry query owns everything under it (its state writes
    included); otherwise the innermost span's layer (``handler.*``
    counts as ingest)."""
    names = path.split("/")
    if names[0].startswith(("jobs.", "views.", "registry.")):
        return names[0].split(".")[0]
    inner = names[-1].split(".")[0]
    return "ingest" if inner == "handler" else inner


def sum_layer(reduced: dict[str, dict], layer: str, key: str) -> float:
    """Total of ``key`` over every tag charged to ``layer``."""
    return sum(v[key] for t, v in reduced.items()
               if t not in ("__all__", "unattributed") and layer_of(t) == layer)


# ---------------------------------------------------------------------------
# wrappers for the traced run
# ---------------------------------------------------------------------------

def _du(path: str) -> tuple[int, int, int]:
    """(bytes, files, rows) of the parquet files under ``path``."""
    import pyarrow.parquet as pq

    size = files = rows = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                f = os.path.join(root, n)
                size += os.path.getsize(f)
                files += 1
                rows += pq.read_metadata(f).num_rows
    return size, files, rows


def install(tracer: Tracer):
    """Wrap the layer entry points for the traced run; returns an undo
    callable. ``ingest.prepare`` runs from the prepare call to the
    merge call, since the handler materialises the prepared batch
    between the two. The row counts behind ``ingest.dedup_ratio`` (the
    handler's input batch, the prepared batch the merge receives) are
    extra Spark jobs, run outside the prepare and merge spans; the
    second one falls inside the handler's span."""
    from obmp_psql_spark import ingest, state
    from obmp_psql_spark.streaming import pipeline

    undo = []

    def patch(owner, name, make):
        orig = getattr(owner, name)
        setattr(owner, name, make(orig))
        undo.append(lambda: setattr(owner, name, orig))

    def prep(orig):
        def f(*a, **k):
            tracer.close_phase()
            tracer.open_phase("ingest.prepare")
            return orig(*a, **k)
        return f

    def merge(orig):
        def f(state_df, batch, *a, **k):
            tracer.close_phase()
            tracer.add("ingest.rows_prepared", batch.count())
            with tracer.span("ingest.merge"):
                return orig(state_df, batch, *a, **k)
        return f

    def staged(orig):
        def f(txn, table, *a, **k):
            name = "state.stage_log" if table.endswith("_log") else "state.stage_state"
            owner = tracer.current_path().split("/")[0]
            before = {id(x) for x in txn.actions}
            with tracer.span(name):
                out = orig(txn, table, *a, **k)
            # the action this call recorded: other tables of the same
            # transaction may be staging concurrently
            for act in [x for x in txn.actions if id(x) not in before
                        and x.get("table") == table and x.get("dir")]:
                size, files, rows = _du(txn.store._abs(act["dir"]))
                tracer.add("state.bytes_staged", size)
                tracer.add("state.files_staged", files)
                tracer.add(f"{owner}.rows_staged", rows)
            return out
        return f

    def timed(name, as_root=False):
        def make(orig):
            def f(*a, **k):
                with tracer.span(name, as_root=as_root):
                    return orig(*a, **k)
            return f
        return make

    def link(orig):
        def f(*a, **k):
            try:
                return orig(*a, **k)
            except FileExistsError:
                tracer.add("state.commit_retries", 1)
                raise
        return f

    def handler(orig):
        def f(ing, batch, batch_id):
            with tracer.span("handler.unicast_prefix", ident=batch_id, as_root=True):
                out = orig(ing, batch, batch_id)
            tracer.close_phase()
            tracer.add("ingest.rows_in", batch.count())
            return out
        return f

    handlers = pipeline.BmpStreamingIngest.HANDLERS
    orig_handler = handlers["unicast_prefix"]
    handlers["unicast_prefix"] = handler(orig_handler)
    undo.append(lambda: handlers.__setitem__("unicast_prefix", orig_handler))
    patch(ingest, "prepare_unicast_prefix", prep)
    patch(ingest, "apply_unicast_prefix", merge)
    for meth in ("append", "replace", "merge_buckets", "replace_bucketed"):
        patch(state.Transaction, meth, staged)
    patch(state.TxnStateStore, "_commit", timed("state.commit"))
    patch(state.TxnStateStore, "read", timed("state.read"))
    patch(state.TxnStateStore, "snapshot", timed("state.log_replay"))
    patch(state.os, "link", link)
    patch(pipeline, "_stage_concurrently", timed("state.stage", as_root=True))

    def undo_all():
        tracer.close_phase()
        for u in reversed(undo):
            u()
    return undo_all


def stream_phases(progress: list[dict]) -> dict[str, float]:
    """Median ``durationMs`` phases over the micro-batches that read
    rows (Structured Streaming's own per-trigger progress)."""
    rows = [p for p in progress if p.get("numInputRows", 0) > 0]
    if not rows:
        return {"batches": 0, "trigger_ms_p50": 0.0, "addBatch_ms_p50": 0.0,
                "offsets_ms_p50": 0.0, "planning_ms_p50": 0.0, "rows_per_batch": 0.0}
    d = [p["durationMs"] for p in rows]
    med = lambda xs: float(statistics.median(xs))  # noqa: E731
    return {
        "batches": len(rows),
        "trigger_ms_p50": med([x.get("triggerExecution", 0) for x in d]),
        "addBatch_ms_p50": med([x.get("addBatch", 0) for x in d]),
        "offsets_ms_p50": med([x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d]),
        "planning_ms_p50": med([x.get("latestOffset", 0) + x.get("getBatch", 0)
                                + x.get("queryPlanning", 0) for x in d]),
        "rows_per_batch": med([p["numInputRows"] for p in rows]),
    }
