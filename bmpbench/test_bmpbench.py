"""The benchmark's own tests (no Spark needed):

    python3 -m pytest bmpbench -q
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import filecmp
import json
import os
import subprocess

import pytest

from bmpbench import check, layers, procs, tables, trace, wire

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TRAFFIC = wire.Traffic(peers=3, prefixes=40, v6_share=0.3, attrs_per_peer=4,
                       records_per_batch=50, withdraw_share=0.3, zipf_s=1.1,
                       repeat_share=0.2)


def _generate(out: str, seed: int) -> list[str]:
    os.makedirs(out, exist_ok=True)
    rib = wire.Rib(TRAFFIC, seed)
    paths = list(rib.control_files(out, wire.T0).values())
    for i, batch in enumerate(rib.dump_batches(wire.T0 + dt.timedelta(hours=1), 50)):
        paths.append(os.path.join(out, f"dump-{i}.parquet"))
        wire.write_records(paths[-1], "unicast_prefix", batch)
    for i in range(3):
        paths.append(os.path.join(out, f"churn-{i}.parquet"))
        wire.write_records(paths[-1], "unicast_prefix",
                           rib.churn_batch(wire.T0 + dt.timedelta(hours=2)))
    return paths


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a, b, c = (tmp_path / n for n in "abc")
    for d in (a, b, c):
        d.mkdir()
    pa, pb = _generate(str(a), 7), _generate(str(b), 7)
    pc = _generate(str(c), 8)
    names = [os.path.basename(p) for p in pa]
    assert names == [os.path.basename(p) for p in pb] == [os.path.basename(p) for p in pc]
    assert all(filecmp.cmp(x, y, shallow=False) for x, y in zip(pa, pb))
    assert not any(filecmp.cmp(x, y, shallow=False) for x, y in zip(pa, pc))


def test_registry_tables_same_seed_same_bytes(tmp_path):
    for d, seed in (("a", 5), ("b", 5), ("c", 6)):
        tables.write_tables(str(tmp_path / d), seed)
    for t in tables.TABLES:
        a, b, c = (str(tmp_path / d / f"{t}.parquet") for d in "abc")
        assert filecmp.cmp(a, b, shallow=False)
        if t not in ("region", "nation"):          # fixed dimension tables
            assert not filecmp.cmp(a, c, shallow=False)


def test_churn_mixes_withdraws_changes_and_repeats(tmp_path):
    rib = wire.Rib(dataclasses.replace(TRAFFIC, records_per_batch=400), 3)
    list(rib.dump_batches(wire.T0, 100))
    rows = rib.churn_batch(wire.T0 + dt.timedelta(hours=1))
    fields = [r[1].decode().split("\t") for r in rows]
    keys = [(f[2], f[1]) for f in fields]
    assert {f[0] for f in fields} == {"add", "del"}
    assert len(set(keys)) < len(keys)          # repeats inside the batch
    ts = [r[2] for r in rows]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)


def _state_files(exp: check.Expected, out: str, table: str, mutate: str | None = None) -> str:
    """Write the expected ``table`` as parquet (optionally altered by
    ``mutate`` SQL) -- a stand-in for the package's committed files."""
    os.makedirs(out, exist_ok=True)
    src = "rib" if table == "ip_rib" else "(SELECT * EXCLUDE (batch) FROM rib_log)"
    exp.con.execute(f"CREATE OR REPLACE TEMP TABLE snap AS SELECT * FROM {src}")
    if mutate:
        exp.con.execute(mutate)
    exp.con.execute(f"COPY snap TO '{out}/part-0.parquet' (FORMAT parquet)")
    return out


@pytest.fixture()
def replayed(tmp_path):
    paths = _generate(str(tmp_path / "w"), 11)
    exp = check.Expected()
    for p in paths:
        if "dump" in p or "churn" in p:
            exp.apply([p])
    yield exp, tmp_path
    exp.close()


def test_checker_accepts_identical_state(replayed):
    exp, tmp = replayed
    for table in ("ip_rib", "ip_rib_log"):
        out = exp.compare(table, [_state_files(exp, str(tmp / table), table)])
        assert out["rows"] > 0 and out["mismatches"] == 0
        assert out["hash"] == out["actual_hash"]


def test_checker_flags_a_planted_wrong_row(replayed):
    exp, tmp = replayed
    victim = exp.con.execute(
        "SELECT peer_hash_id, hash_id FROM rib ORDER BY 1, 2 LIMIT 1").fetchone()
    bad = _state_files(exp, str(tmp / "bad"), "ip_rib", mutate=(
        "UPDATE snap SET origin_as = origin_as + 1 "
        f"WHERE peer_hash_id = '{victim[0]}' AND hash_id = '{victim[1]}'"))
    out = exp.compare("ip_rib", [bad])
    assert out["mismatches"] == 2                 # one row missing, one extra
    assert out["hash"] != out["actual_hash"]
    writers = exp.con.execute(
        "SELECT DISTINCT batch FROM msgs WHERE peer_hash_id = ? AND hash_id = ?",
        list(victim)).fetchall()
    assert out["bad_batches"] == sorted(b for (b,) in writers)


def test_checker_flags_a_dropped_log_row(replayed):
    exp, tmp = replayed
    n = exp.con.execute("SELECT count(*) FROM rib_log").fetchone()[0]
    assert n > 0
    bad = _state_files(exp, str(tmp / "badlog"), "ip_rib_log",
                       mutate="DELETE FROM snap WHERE rowid = 0")
    assert exp.compare("ip_rib_log", [bad])["mismatches"] == 1


def test_upsert_keeps_attrs_on_withdraw_and_logs_only_updates(tmp_path):
    """The replay's merge matrix on a hand-made sequence."""
    t = wire.T0

    def rec(action, attr, sec):
        ts = t + dt.timedelta(seconds=sec)
        return ("p1", wire._tsv((action, "h1", "p1", attr, True, 0 if attr == "" else 65001,
                                 "10.0.0.0", 24, action == "del", 0, "", False, True, ts)), ts)

    batches = [[rec("add", "A", 0)], [rec("del", "", 1)], [rec("add", "B", 2), rec("add", "C", 3)]]
    exp = check.Expected()
    for i, b in enumerate(batches):
        path = str(tmp_path / f"b{i}.parquet")
        wire.write_records(path, "unicast_prefix", b)
        exp.apply([path])
    rib = exp.con.execute("SELECT base_attr_hash_id, is_withdrawn, first_added_timestamp "
                          "FROM rib").fetchall()
    assert rib == [("C", False, t)]
    log = exp.con.execute("SELECT is_withdrawn, base_attr_hash_id, origin_as, batch "
                          "FROM rib_log ORDER BY batch").fetchall()
    assert log == [(True, "A", 65001, 1), (False, "C", 65001, 2)]
    exp.close()


def _event(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def test_reducer_totals_on_a_fixture_event_log(tmp_path):
    tagged = {trace.TAG: "ingest/handler.unicast_prefix/ingest.merge"}
    lines = [
        _event("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 1000,
                                           "Stage IDs": [0, 1], "Properties": tagged}),
        _event("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 1500,
                                           "Stage IDs": [2], "Properties": {}}),
        _event("SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 9000,
                                           "Stage IDs": [3], "Properties": tagged}),
    ]
    for sid, cpu_ns, gc_ms, sw, spill in ((0, 2e9, 100, 1e6, 0), (1, 1e9, 0, 0, 5e5),
                                          (2, 5e8, 50, 0, 0), (3, 7e9, 0, 0, 0)):
        lines.append(_event("SparkListenerTaskEnd", **{"Stage ID": sid, "Task Metrics": {
            "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Input Metrics": {"Records Read": 10}}}))
        lines.append(_event("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": sid}}))
    path = tmp_path / "events_1"
    path.write_text("\n".join(lines) + "\n")

    out = trace.reduce_event_log(str(path), window=(0, 5000))   # job 2 falls outside
    merge = out["ingest/handler.unicast_prefix/ingest.merge"]
    assert merge["executor_cpu_s"] == pytest.approx(3.0)
    assert merge["gc_s"] == pytest.approx(0.1)
    assert merge["shuffle_write_mb"] == pytest.approx(1.0)
    assert merge["spill_mb"] == pytest.approx(0.5)
    assert (merge["tasks"], merge["jobs"], merge["stages"], merge["records_read"]) == (2, 1, 2, 20)
    assert out["unattributed"]["executor_cpu_s"] == pytest.approx(0.5)
    assert out["__all__"]["executor_cpu_s"] == pytest.approx(3.5)
    assert out["__all__"]["tasks"] == 3
    assert trace.sum_layer(out, "ingest", "executor_cpu_s") == pytest.approx(3.0)
    assert trace.layer_of("jobs.global_rib/state.stage_state") == "jobs"
    assert trace.layer_of("ingest/handler.unicast_prefix/state.stage/state.stage_log") == "state"
    assert trace.layer_of("registry.queries_text.q_ann_topk/state.read") == "registry"


def test_self_time_is_wall_minus_covered_children():
    spans = [
        {"seq": 0, "name": "handler", "parent": None, "start": 0.0, "end": 10.0},
        {"seq": 1, "name": "stage_log", "parent": 0, "start": 2.0, "end": 6.0},
        {"seq": 2, "name": "stage_state", "parent": 0, "start": 4.0, "end": 7.0},  # overlaps
        {"seq": 3, "name": "commit", "parent": 0, "start": 9.0, "end": 9.5},
    ]
    st = trace.self_times(spans)
    assert st["handler"]["self_s"] == pytest.approx(10.0 - 5.0 - 0.5)
    assert st["stage_log"]["self_s"] == pytest.approx(4.0)
    assert all(v["self_le_wall"] for v in st.values())
    # a child that ends after its parent is reported, not clipped away
    spans.append({"seq": 4, "name": "late", "parent": 1, "start": 5.0, "end": 6.5})
    st = trace.self_times(spans)
    assert not st["stage_log"]["self_le_wall"]
    assert st["handler"]["self_le_wall"]


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    from bmpbench.workloads import tail

    assert tail([float(i) for i in range(1, 101)]) == (90.0, 90.0)
    v, pct = tail([float(i) for i in range(1, 29)])
    assert v == 18.0 and sum(x > v for x in range(1, 29)) == 10
    assert pct == pytest.approx(100 * 18 / 28)
    assert tail([3.0, 1.0, 2.0]) == (2.0, 50.0)      # too few samples for a tail


def test_oracle_compare_flags_a_planted_wrong_row():
    import pandas as pd

    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    assert check.frame_mismatch(want.iloc[::-1][["v", "k"]], want) == ""
    wrong = want.copy()
    wrong.loc[1, "v"] = 1.25
    assert "sorted row 1" in check.frame_mismatch(wrong, want)
    assert "rows" in check.frame_mismatch(want.iloc[:2], want)
    assert check.frame_mismatch(want, None)                # no oracle is no pass


def test_benchmark_json_names_what_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from bmpbench import run, workloads

    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert set(layers.REGISTRY_QUERIES) <= set(workloads.RegistryPass.QUERIES)
    from obmp_psql_spark import registry
    specs = registry.all_specs()
    assert {workloads.RegistryPass.module(specs[q]) for q in workloads.RegistryPass.QUERIES} \
        == {f"queries_{m}" for m in layers.REGISTRY_MODULES}
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == layers.PER_LAYER
    res = workloads.Result(ops=[{"lat_s": 1.0}], attempted=1, rate=10.0,
                           windows=[workloads.Window(wall_s=1.0, cpu_s=1.0, ops=1)])
    e2e = run.end_to_end(res, 1.0)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == \
        [(k, v["unit"]) for k, v in e2e.items()]


def test_end_kills_and_waits_for_children_and_grandchildren():
    child = subprocess.Popen(["sh", "-c", "sleep 60 & wait"])
    try:
        while not procs.tree(child.pid):   # the shell has started its sleep
            pass
        procs.end(procs.tree(), grace=0.1)
        assert not procs.tree()
    finally:
        child.kill()
        child.wait()
