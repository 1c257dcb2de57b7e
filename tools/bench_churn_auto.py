"""Measure the incremental-vs-full-rebuild arms of run_global_rib
across churn shapes (round-13 verdict #5) and verify the auto mode
rides the cheaper one.

History, because the result overruled the plan: BENCH_churn_r12.json
extrapolated a crossover at churn ≈ 21.6M rows (10.8% of a 200M-row
rib) from a slope fitted on CONCENTRATED churn — where each extra key
drags a whole 50k-row bucket through read+write, a per-KEY cost that
saturates once every bucket is touched. Run 1 of this probe (2M rib,
uniform churn 2%-60% of the key space) and run 2 (20M rib, 1M/4M
churn) both measured incremental cheaper at EVERY point (e.g. 4M
uniform churn touching all 400 buckets: 16.5 s vs 35.5 s full),
because the full rebuild re-consolidates the base rib that the
watermark slice-scan skips. So full_sync="auto" resolves to the
incremental merge at every batch shape (census recorded in commit
meta), and this probe's job is to KEEP that claim measured: three
churn shapes per run — concentrated-ish (5% of keys), uniform
majority (80% of keys), and total key-space replay — asserting
incremental_s <= ~full_s everywhere and that auto tracks it.

Usage: python tools/bench_churn_auto.py
Writes BENCH_churn_auto.json at the repo root.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench_churn import T0, build_state, synth_rib  # noqa: E402

N_RIB = 20_000_000
BUCKETS = 400  # 50k-row buckets, bench_churn law
# pfx_mod = N_RIB/4 = 5M distinct keys; churn of k consecutive ids
# wraps to ~min(k, 5M) distinct prefixes
CHURN_SIZES = [250_000, 4_000_000, 20_000_000]  # 5%, 80%, total replay


def main() -> None:
    from obmp_psql_spark.jobs import JobRunner
    from obmp_psql_spark.session import get_spark
    from obmp_psql_spark.state import TxnStateStore

    spark = get_spark("bench-churn-auto")
    spark.range(10000).selectExpr("id % 7 k").groupBy("k").count() \
        .write.format("noop").mode("overwrite").save()

    results = []
    for k in CHURN_SIZES:
        base = tempfile.mkdtemp(prefix=f"chauto_{k}_base_")
        store, pfx_mod = build_state(spark, N_RIB, base)
        jr = JobRunner(store)
        jr.run_global_rib(now=T0, buckets=BUCKETS)
        # uniform replay-shaped churn: k consecutive ids wrap to
        # ~min(k, 5M) distinct existing prefixes across all buckets
        ts = T0 + dt.timedelta(minutes=10)
        store.append("ip_rib",
                     synth_rib(spark, k, ts, pfx_mod=pfx_mod,
                               id_offset=1_000_000_000))
        now = ts + dt.timedelta(minutes=1)
        row: dict = {"churn_rows": k, "rib_rows": N_RIB,
                     "key_space_fraction": round(
                         min(k, pfx_mod) / pfx_mod, 3)}
        for arm in ("incremental", "full", "auto"):
            root = tempfile.mkdtemp(prefix=f"chauto_{k}_{arm}_")
            shutil.rmtree(root)
            shutil.copytree(base, root)
            s = TxnStateStore(spark, root)
            j = JobRunner(s)
            t = time.perf_counter()
            if arm == "incremental":
                j.run_global_rib(now=now)
            elif arm == "full":
                j.run_global_rib(now=now, full_sync=True)
            else:
                j.run_global_rib(now=now, full_sync="auto")
                row["auto_pick"] = (s.get_meta("global_rib_sink_shape")
                                    or "?").split(":", 1)[0]
            row[f"{arm}_s"] = round(time.perf_counter() - t, 3)
            shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(base, ignore_errors=True)
        cheaper = ("incremental" if row["incremental_s"] <= row["full_s"]
                   else "full")
        row["cheaper_arm"] = cheaper
        row["auto_tracks_cheaper"] = (
            row["auto_pick"] == cheaper
            # inside the noise band the pick is cost-neutral
            or abs(row["incremental_s"] - row["full_s"])
            < 0.15 * max(row["incremental_s"], row["full_s"]))
        results.append(row)
        print(row, flush=True)

    out = {
        "metric": "auto_sink_shape_vs_measured_arms",
        "n_rib": N_RIB, "buckets": BUCKETS,
        "law": "auto = incremental at every batch shape (no measured "
               "crossover: the full rebuild re-consolidates the base "
               "rib that the watermark slice-scan skips); "
               "full_sync=True is the explicit semantic resync",
        "runs": results,
        "note": "uniform existing-key churn at 5%/80%/100% of the "
                "key space on a 20M-row rib; auto decision from "
                "committed global_rib_sink_shape meta; arms on "
                "independent copies of one base store; run-1 data "
                "(2M rib, incremental cheaper at 2%-60%) in git "
                "history of this file's first version",
    }
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH_churn_auto.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
