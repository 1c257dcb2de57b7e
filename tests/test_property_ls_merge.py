"""Property test for the generic column-policy merge engine
(operators.merge.conditional_rib_merge): random ls_node message
interleavings must match an independent Python interpretation of the
same MergePolicy."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from obmp_psql_spark.ingest_ls import LS_NODE_POLICY, apply_ls_node

from .test_bmp_ingest import empty, msgs
from .test_streaming import ls_node_msg

HASHES = ["n0", "n1"]
ATTRS = ["a0", "a1", ""]
NAMES = ["x", "y"]

msg_strategy = st.tuples(
    st.sampled_from(HASHES), st.sampled_from(ATTRS), st.booleans(),
    st.sampled_from(NAMES), st.integers(min_value=0, max_value=3),  # seq
)
scenario = st.lists(
    st.lists(msg_strategy, min_size=1, max_size=5), min_size=1, max_size=3)


def model_apply(state: dict, log_count: list, batch: list) -> None:
    policy = LS_NODE_POLICY
    compressed = {}
    for i, m in enumerate(batch):
        compressed[m[0]] = (i, m)
    for h, (i, (_, attr, wd, name, seq)) in compressed.items():
        src = {"base_attr_hash_id": attr or None, "is_withdrawn": wd,
               "name": name, "seq": seq, "ts": i}
        if h not in state:
            state[h] = dict(src)
            continue
        old = state[h]
        changed = (wd != old["is_withdrawn"]) or (
            not wd and src["base_attr_hash_id"] is not None
            and old["base_attr_hash_id"] is not None
            and src["base_attr_hash_id"] != old["base_attr_hash_id"])
        if changed:
            log_count.append(1)
        new = dict(old)
        for col in ("is_withdrawn", "seq", "ts"):  # policy.always
            new[col] = src[col]
        # keep_on_withdraw: base_attr (name is NOT in the SET list ->
        # never updated)
        if not wd:
            new["base_attr_hash_id"] = src["base_attr_hash_id"]
        state[h] = new


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(scenario)
def test_ls_merge_matches_model(model_spark, batches):
    spark = model_spark
    t0 = dt.datetime(2024, 1, 1)
    state_df = empty(spark, "ls_nodes")
    model_state: dict = {}
    model_log: list = []
    total_log = 0
    for bi, batch in enumerate(batches):
        rows = [
            ls_node_msg(h, attr, wd,
                        t0 + dt.timedelta(minutes=bi, seconds=i),
                        name=name, sequence=seq)
            for i, (h, attr, wd, name, seq) in enumerate(batch)
        ]
        state_df, log = apply_ls_node(state_df, msgs(spark, "ls_node", rows))
        state_df = state_df.localCheckpoint()
        total_log += log.count()
        model_apply(model_state, model_log, batch)

    got = {r.hash_id: (r.base_attr_hash_id, r.is_withdrawn, r.seq)
           for r in state_df.collect()}
    want = {h: (v["base_attr_hash_id"], v["is_withdrawn"], v["seq"])
            for h, v in model_state.items()}
    assert got == want
    assert total_log == len(model_log)


import pytest  # noqa: E402


@pytest.fixture(scope="module")
def model_spark(spark):
    return spark
