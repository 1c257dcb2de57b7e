"""lsh_topk auto shard-cap recall probe (finding 31's second law).

The image probe measured the occupancy cap law on the fingerprint
family; this measures the WORK-BUDGET law on lsh_topk: the shard cap
bounds candidate work at N x cap, and `auto` = ceil(sqrt(4N)) grows the
per-query candidate set with the corpus, where a hand-tuned constant
freezes. Expectation across three decades (2k -> 20k -> 200k -> 2M
vectors; the uncapped variant is SKIPPED at 2M — sign buckets saturate
at the cluster count, so the uncapped join would do ~N^2/clusters
pair work, exactly what the cap exists to bound):

- recall@5 vs brute force for `auto` holds or improves with N
  (candidate sets grow), while a small fixed cap decays;
- lsh wall stays far below the brute-force wall at the top scale
  (that is what the cap is FOR);
- the IVF serving path (sqrt-N centroids, nprobe=3, the PRODUCTION
  recall path per finding 33) is measured on the same probes at every
  scale, so the "sign-LSH = cheap candidate pass, IVF = recall path"
  label carries recall numbers side by side.

Ground truth: exact cosine top-5 for the 50 probe vectors
(vec_id < 50, present at every scale). Recall counts a hit when the
approximate path surfaces a neighbor from the exact top-5 set
(ties broken identically in both paths: cos desc, neighbor_id asc).

Usage: python tools/bench_lsh_cap.py [out.json]
(expects /tmp/sf1, /tmp/sf10 from tools/make_sf_scale.py; skips
missing scales)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCALES = [("2k", "/root/testdata/sf0.1"), ("20k", "/tmp/sf1"),
          ("200k", "/tmp/sf10"), ("2M", "/tmp/sf100")]
# at and above this corpus size the uncapped bucket join is left out
# (it is the ~quadratic regime the cap bounds away)
UNCAPPED_MAX_N = 500_000
DIMS, PLANES, K, FIXED_CAP = 64, 8, 5, 64


def main() -> None:
    out_name = sys.argv[1] if len(sys.argv) > 1 else "BENCH_lsh_cap.json"
    from pyspark.sql import functions as F

    from obmp_psql_spark.operators import similarity as S
    from obmp_psql_spark.operators.cache import build_artifacts
    from obmp_psql_spark.session import fan_out, get_spark, load_tables

    spark = get_spark("bench-lsh-cap")
    results: dict = {
        "load_before": [round(x, 2) for x in os.getloadavg()],
        "dims": DIMS, "n_planes": PLANES, "k": K,
        "fixed_cap": FIXED_CAP, "scales": {}}

    for tag, sf_dir in SCALES:
        if not os.path.isdir(sf_dir):
            print(f"skip {tag}: {sf_dir} missing", file=sys.stderr)
            continue
        e = fan_out(load_tables(spark, sf_dir, ("embeddings",))
                    ["embeddings"], spark).persist()
        n = e.count()
        probes = e.filter(F.col("vec_id") < 50)
        t0 = time.time()
        truth = {(r.query_id, r.neighbor_id)
                 for r in S.cosine_topk_exact_arrow(probes, e, k=K).collect()}
        brute_wall = time.time() - t0
        row: dict = {"n_vec": n, "brute_wall_s": round(brute_wall, 2)}
        variants = [("uncapped", None)] if n < UNCAPPED_MAX_N else []
        variants += [("fixed", FIXED_CAP), ("auto", "auto")]
        for cap_tag, cap in variants:
            with build_artifacts():
                t0 = time.time()
                got = {(r.query_id, r.neighbor_id) for r in
                       S.lsh_topk(e, dims=DIMS, n_planes=PLANES, k=K,
                                  max_bucket_size=cap)
                        .filter(F.col("query_id") < 50).collect()}
                wall = time.time() - t0
            hits = len(got & truth)
            row[cap_tag] = {
                "recall_ppm": hits * 1_000_000 // max(len(truth), 1),
                "wall_s": round(wall, 2)}
        # the production recall path on the same probe set: IVF with
        # ~sqrt(N) centroids, one Lloyd refinement, nprobe=3
        cents = max(16, int(n ** 0.5))
        with build_artifacts():
            t0 = time.time()
            got = {(r.query_id, r.neighbor_id) for r in
                   S.ivf_topk(e, n_centroids=cents, nprobe=3, k=K,
                              train_iters=1, max_queries=50)
                    .filter(F.col("query_id") < 50).collect()}
            wall = time.time() - t0
        row["ivf"] = {
            "n_centroids": cents,
            "recall_ppm": len(got & truth) * 1_000_000
            // max(len(truth), 1),
            "wall_s": round(wall, 2)}
        e.unpersist()
        results["scales"][tag] = row
        print(tag, row, flush=True)

    out = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), out_name)
    with open(out, "w") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print("wrote", out)


if __name__ == "__main__":
    main()
