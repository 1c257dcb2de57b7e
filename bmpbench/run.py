"""BMP routing-database benchmark: one workload, one seed, one run.

    python3 bmpbench/run.py --workload steady_churn --seed 7 --seconds 16 --trace 0

It generates its inputs from the seed under ``.bench_work/`` in the
checkout, drives the ``obmp_psql_spark`` package through its public
entry points on ``local[nproc]``, checks the committed output against
an independent DuckDB replay, and prints one JSON object as its last
line: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). See ``bmpbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)   # the checkout: the package sits beside bmpbench/


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str) -> None:
    """Everything the run writes stays under ``work``; the Python
    workers Spark forks import the package from the checkout root,
    whatever their working directory."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_nproc()))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)


class ProcSampler(threading.Thread):
    """Peak memory of this process tree (Spark's JVM and Python workers
    included), sampled every 0.5 s. Memory is summed as PSS, which
    splits pages a forked Python worker shares with its parent instead
    of counting them once per worker."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._stop_ev = threading.Event()

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except (OSError, ValueError, IndexError):
            pass
        return 0

    def run(self) -> None:
        from bmpbench import procs

        while not self._stop_ev.is_set():
            self.peak_kb = max(self.peak_kb, sum(map(self._pss_kb, [os.getpid(), *procs.tree()])))
            self._stop_ev.wait(0.5)

    def stop(self) -> float:
        self._stop_ev.set()
        self.join(timeout=5)
        return self.peak_kb / 1024.0


def end_to_end(res, setup_s: float) -> dict:
    from bmpbench.workloads import quantile, tail

    lat = [o["lat_s"] for o in res.ops]
    win = res.windows
    tail_s, res.info["op_tail_percentile"] = tail(lat)
    m = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (quantile(lat, 0.5), "s"),
        "op_tail_s": (tail_s, "s"),
        "throughput_per_s": (res.rate, "1/s"),
        "cpu_s_per_op": (sum(w.cpu_s for w in win) / max(1, sum(w.ops for w in win)), "s"),
        "ok_ratio": ((res.attempted - res.failed) / max(1, res.attempted), "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep .bench_work/ for inspection")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # a run stopped from outside still ends what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # fail fast, before anything is written or started, when the
    # package is absent
    import obmp_psql_spark  # noqa: F401

    from bmpbench import procs, workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _prepare_env(work)
    wl = workloads.WORKLOADS[args.workload](args.seed, args.seconds, work, bool(args.trace))
    phases, t = {}, time.perf_counter()

    def phase(name):
        nonlocal t
        now = time.perf_counter()
        phases[name] = round(now - t, 3)
        t = now

    try:
        sampler = ProcSampler()
        sampler.start()
        wl.generate()
        phase("generate")
        wl.start_spark()
        phase("spark")
        setup_s = wl.timed_setup()
        phase("setup")
        res = wl.timed_measure()
        phase("measure")
        wl.check(res)
        phase("check")
        res.info["peak_pss_mb"] = sampler.stop()
        metrics = wl.layer_metrics(res) if args.trace else end_to_end(res, setup_s)
        phase("report")
        res.info["phases_s"] = phases
        # workload-named figures for people; the result is the last line
        print(json.dumps({"workload": args.workload, "seed": args.seed, **res.info}))
    finally:
        try:
            wl.close()
        finally:
            procs.end(procs.tree())
            if not args.keep:
                shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
