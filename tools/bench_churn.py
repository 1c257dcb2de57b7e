"""O(churn) probe for the incremental bucketed global RIB job.

The decade probes (tools/bench_scale.py) scale data AND churn
together; this one isolates the incremental claim in jobs.py
run_global_rib (reference semantics: update_global_ip_rib
2_aggregations.sql:181-275 incremental vs sync_global_ip_rib
:280-353 full rebuild): a FIXED-SIZE churn batch applied against a
1x / 10x / 100x state table should cost ~flat wall time, while the
full_sync rebuild grows linearly with state.

Design contract being verified (the 100 TB story):
- the watermark slice prunes the ip_rib scan to the churn rows via
  parquet row-group timestamp stats (churn arrives as separate
  appended files);
- buckets are CONSTANT SIZE (count grows with state, like any real
  deployment sizes them), so the partial merge reads/writes
  ``touched_buckets x bucket_rows`` — bounded by
  ``distinct_churn_keys x const``, independent of total state once
  bucket count exceeds the churn key count. BGP churn is heavily
  concentrated (flapping prefixes), which is what the probe's churn
  shape models: many updates over few distinct prefixes.

Also fits t_inc(K) = a + b*K from two churn sizes at the largest
state and reports the measured crossover churn size where full_sync
becomes cheaper.

Usage: python tools/bench_churn.py [out=BENCH_churn.json]
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BUCKET_ROWS = 50_000  # constant bucket size; count scales with state
# override with CHURN_SCALES=200000,200000000 for targeted decades
SCALES = [int(x) for x in os.environ.get(
    "CHURN_SCALES", "200000,2000000,20000000").split(",")]
T0 = dt.datetime(2026, 1, 1, 12, 0, 0)


def synth_rib(spark, n: int, ts: dt.datetime, *, pfx_mod: int,
              id_offset: int = 0, flap_keys: int | None = None):
    """n ip_rib rows with IP_RIB's schema: ~4 peers per prefix
    (pfx_mod = n // 4 distinct prefixes), deterministic contents.
    ``flap_keys`` restricts rows to that many distinct prefixes —
    the concentrated-churn shape."""
    from pyspark.sql import functions as F

    from obmp_psql_spark.schemas import IP_RIB

    pid = (F.col("id") % F.lit(flap_keys)) if flap_keys else \
        (F.col("id") % F.lit(pfx_mod))
    base = (F.lit(10 * (1 << 24)) + pid * 256)
    df = spark.range(id_offset, id_offset + n).select(
        F.concat(F.lit("h"), F.col("id")).alias("hash_id"),
        F.concat(F.lit("peer"), F.col("id") % 64).alias("peer_hash_id"),
        F.concat(F.lit("attr"), F.col("id") % 1000).alias("base_attr_hash_id"),
        F.lit(True).alias("is_ipv4"),
        (pid % 50000 + 1000).alias("origin_as"),
        F.concat(F.lit("10."), ((pid / 65536).cast("long") % 256),
                 F.lit("."), ((pid / 256).cast("long") % 256),
                 F.lit("."), (pid % 256)).alias("prefix"),
        F.lit(24).cast("smallint").alias("prefix_len"),
        F.lit(ts).alias("timestamp"),
        F.lit(ts).alias("first_added_timestamp"),
        (F.col("id") % 7 == 0).alias("is_withdrawn"),
        F.lit(0).cast("long").alias("path_id"),
        F.lit("").alias("labels"),
        F.lit(True).alias("is_pre_policy"),
        F.lit(True).alias("is_adj_rib_in"),
        base.alias("prefix_start"),
        (base + 255).alias("prefix_end"),
        F.lit(0).cast("long").alias("prefix_base_hi"),
        base.alias("prefix_base_lo"),
    )
    return df.select(*[F.col(f.name).cast(f.dataType) for f in IP_RIB.fields])


def build_state(spark, n: int, root: str):
    from pyspark.sql import functions as F

    from obmp_psql_spark.schemas import INFO_ROUTE, RPKI_VALIDATOR
    from obmp_psql_spark.state import TxnStateStore

    store = TxnStateStore(spark, root)
    pfx_mod = n // 4
    store.overwrite("ip_rib",
                    synth_rib(spark, n, T0 - dt.timedelta(hours=1),
                              pfx_mod=pfx_mod))
    # modest real enrichment inputs so both join paths stay hot
    pid = F.col("id")
    base = (F.lit(10 * (1 << 24)) + pid * 256)
    pfx = F.concat(F.lit("10."), ((pid / 65536).cast("long") % 256),
                   F.lit("."), ((pid / 256).cast("long") % 256),
                   F.lit("."), (pid % 256))
    irr = spark.range(1000).select(
        pfx.alias("prefix"),
        F.lit(24).alias("prefix_len"),
        F.lit("probe route object").alias("descr"),
        (pid % 50000 + 1000).alias("origin_as"),
        F.lit("IRR").alias("source"),
        F.lit(T0).alias("timestamp"))
    store.overwrite("info_route", irr.select(
        *[F.col(f.name).cast(f.dataType) for f in INFO_ROUTE.fields]))
    roa = spark.range(500).select(
        F.concat(pfx, F.lit("/24")).alias("prefix"),
        F.lit(24).alias("prefix_len"),
        F.lit(24).alias("prefix_len_max"),
        (pid % 50000 + 1000).alias("origin_as"),
        F.lit(T0).alias("timestamp"),
        base.alias("prefix_start"), (base + 255).alias("prefix_end"),
        F.lit(0).alias("start_hi"), base.alias("start_lo"),
        F.lit(0).alias("end_hi"), (base + 255).alias("end_lo"))
    store.overwrite("rpki_validator", roa.select(
        *[F.col(f.name).cast(f.dataType) for f in RPKI_VALIDATOR.fields]))
    return store, pfx_mod


def main() -> None:
    out_name = sys.argv[1] if len(sys.argv) > 1 else "BENCH_churn.json"
    from obmp_psql_spark.jobs import JobRunner
    from obmp_psql_spark.session import get_spark

    spark = get_spark("bench-churn")
    spark.range(10000).selectExpr("id % 7 k").groupBy("k").count() \
        .write.format("noop").mode("overwrite").save()

    results: dict[str, dict] = {}
    fit = {}
    for n in SCALES:
        root = tempfile.mkdtemp(prefix=f"churn_{n}_")
        store, pfx_mod = build_state(spark, n, root)
        jr = JobRunner(store)
        buckets = max(4, n // BUCKET_ROWS)
        r: dict = {"n_rib": n, "buckets": buckets}

        t = time.perf_counter()
        jr.run_global_rib(now=T0, buckets=buckets)
        r["initial_build_s"] = round(time.perf_counter() - t, 3)

        # fixed concentrated churn: 20 flapping prefixes x 1000
        # updates; repeated 3x with advancing timestamps, min wall
        best = None
        for i in range(1, 4):
            ts = T0 + dt.timedelta(minutes=10 * i)
            churn = synth_rib(spark, 20_000, ts, pfx_mod=pfx_mod,
                              id_offset=i * 1_000_000_000, flap_keys=20)
            store.append("ip_rib", churn)
            t = time.perf_counter()
            jr.run_global_rib(now=ts + dt.timedelta(minutes=1))
            w = time.perf_counter() - t
            best = w if best is None else min(best, w)
        r["inc_20k_churn_s"] = round(best, 3)

        if n == SCALES[-1]:
            # a 10x churn batch (200 distinct keys) to fit t(K)=a+b*K
            ts = T0 + dt.timedelta(minutes=60)
            churn = synth_rib(spark, 200_000, ts, pfx_mod=pfx_mod,
                              id_offset=9_000_000_000, flap_keys=200)
            store.append("ip_rib", churn)
            t = time.perf_counter()
            jr.run_global_rib(now=ts + dt.timedelta(minutes=1))
            r["inc_200k_churn_s"] = round(time.perf_counter() - t, 3)
            fit["b_per_churn_row_s"] = max(
                (r["inc_200k_churn_s"] - r["inc_20k_churn_s"]) / 180_000,
                1e-9)
            fit["a_fixed_s"] = max(
                r["inc_20k_churn_s"] - fit["b_per_churn_row_s"] * 20_000, 0.0)

        t = time.perf_counter()
        jr.run_global_rib(now=T0 + dt.timedelta(hours=1, minutes=59),
                          full_sync=True)
        r["full_sync_s"] = round(time.perf_counter() - t, 3)

        results[f"{n}"] = r
        print(f"n={n}: {r}", flush=True)
        shutil.rmtree(root, ignore_errors=True)

    small, big = results[str(SCALES[0])], results[str(SCALES[-1])]
    decades = math.log10(SCALES[-1] / SCALES[0])
    summary = {
        "alpha_incremental": round(math.log10(
            big["inc_20k_churn_s"] / small["inc_20k_churn_s"]) / decades, 3),
        "alpha_full_sync": round(math.log10(
            big["full_sync_s"] / small["full_sync_s"]) / decades, 3),
    }
    if fit:
        summary["crossover_churn_rows"] = int(
            (big["full_sync_s"] - fit["a_fixed_s"])
            / fit["b_per_churn_row_s"])
        summary.update({k: round(v, 6) for k, v in fit.items()})

    out = {
        "metric": "incremental_global_rib_churn_scaling",
        "scales": results,
        "summary": summary,
        "note": "fixed 20k-row/20-key churn vs 1x/10x/100x state; "
                "constant 50k-row buckets (count grows with state); "
                "alpha=log10(t_100x/t_1x)/2 — ~0 means O(churn), "
                "1 means O(state); crossover = churn rows where "
                "incremental cost meets the measured full_sync "
                "rebuild at 100x",
    }
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), out_name)
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
