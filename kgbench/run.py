"""KG pipeline benchmark.

    python3 kgbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's inputs from --seed and computes the expected
output with DuckDB.  Then it runs a fixed number of iterations (closed
loop, one client: the next starts when the previous result is complete).
Each iteration is one job as spark-submit runs it: a fresh JVM and
local[nproc] session plus the dictionary load (set-up), then the workload
from input to complete result (wall), checked against DuckDB outside the
timed window.  With --trace 1 one more iteration runs with spans around
every layer call and the per-layer metrics are reported instead of the
end-to-end ones.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The line before it records the host (nproc, load average), every
iteration's set-up and wall time, the input sizes and failed_share.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# Input sizes per workload (see README.md for why and what they cost).
WORKLOADS = {
    "kg_wave_job": {"n_turns": 100000},
    "corpus_link_heavy": {"n_docs": 1000, "n_terms": 12000, "n_pool": 2400},
}


def make_workload(name: str, root: str, seed: int):
    from kgbench import workloads

    cls = {"kg_wave_job": workloads.WaveJob, "corpus_link_heavy": workloads.CorpusLinkHeavy}[name]
    return cls(root, seed, **WORKLOADS[name])


def run(args) -> dict:
    from eva_opentargets_spark.session import get_spark

    from kgbench import host, layers, spans

    t0 = time.perf_counter()
    nproc = host.pin_cpus()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    host.configure(work, REPO, nproc)
    try:
        w = make_workload(args.workload, os.path.join(work, "input"), args.seed)
        w.expected()
        prepare_s = time.perf_counter() - t0

        # set-up: what a spark-submit job pays before its first action --
        # JVM launch, session, dictionary/vocabulary load
        t = time.perf_counter()
        spark = get_spark()
        session_s = time.perf_counter() - t
        w.load(spark)
        setup_s = time.perf_counter() - t

        # the job: input -> complete result, cold, as every job runs it
        rss = host.PeakRss(host.jvm_pid())
        attempted, failed, walls = 1, 0, []
        t = time.perf_counter()
        with around_stop(lambda session, stop: (rss.sample(), stop(session))):
            out = w.iterate(spark)
        walls.append(time.perf_counter() - t)
        peak = rss.total_mb()
        failed += _report(w.check(out), "job")
        metrics = layers.select(
            "end_to_end",
            {"setup_s": setup_s, "wall_s": walls[0], "turns_per_s": w.units / walls[0], "peak_rss_mb": peak},
        )
        if args.trace:
            # per-layer split of a warm iteration, against an untraced
            # warm iteration for the tracing overhead
            attempted += 2
            spark = w.next_session(spark)
            t = time.perf_counter()
            out = w.iterate(spark)
            walls.append(time.perf_counter() - t)
            failed += _report(w.check(out), "warm job")
            # what the program left cached (job.main stops its session, so
            # for it the traced job's stop hook reads this instead)
            live = spark.sparkContext._jsc is not None
            cached = spans.cached_storage(spark.sparkContext) if live else None
            metrics, errors = traced_iteration(w, w.next_session(spark), walls[1], session_s, nproc, cached)
            failed += _report(errors, "traced job")
        print(
            json.dumps(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "nproc": nproc,
                    "load_avg": os.getloadavg(),
                    "inputs": w.info,
                    "prepare_s": prepare_s,
                    "setup_s": setup_s,
                    "session_s": session_s,
                    "walls_s": walls,
                    "rss_peaks_mb": list(rss.by_pid.values()),
                    "failed_share": failed / attempted,
                }
            ),
            flush=True,
        )
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        host.shutdown()
        shutil.rmtree(work, ignore_errors=True)


def _report(errors: list[str], what: str) -> int:
    for e in errors:
        print(f"MISMATCH ({what}): {e}", file=sys.stderr)
    return 1 if errors else 0


@contextmanager
def around_stop(hook):
    """Inside the block, SparkSession.stop(session) runs as
    hook(session, original_stop): job.main stops the session it was given,
    and what lives only as long as the session must be read before."""
    from pyspark.sql import SparkSession

    original = SparkSession.stop
    SparkSession.stop = lambda session: hook(session, original)
    try:
        yield
    finally:
        SparkSession.stop = original


def traced_iteration(w, spark, wall_s: float, session_s: float, nproc: int, cached):
    """One iteration under spans; returns (per-layer metrics, errors)."""
    from kgbench import layers, spans

    tracer = spans.Tracer()
    snap: dict = {}
    min_job = spans.last_job_id(spark.sparkContext) + 1

    def snapshot(session):
        with tracer.span("trace.snapshot"):
            snap["store"] = spans.read_status_store(session.sparkContext, min_job)
            snap["cached"] = spans.cached_storage(session.sparkContext)

    def stop(session, original):  # job.main stops its session: read the store first
        if "store" not in snap:
            snapshot(session)
        with tracer.span("session.stop"):
            original(session)

    with around_stop(stop):
        counts = w.traced(spark, tracer)
    if "store" not in snap:
        snapshot(spark)
    metrics = layers.layer_metrics(
        w, counts, tracer, snap["store"], cached or snap["cached"], wall_s, session_s, nproc,
        os.getloadavg(),
    )
    return metrics, counts["errors"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops the JVM and its workers (run's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if sys.path and os.path.abspath(sys.path[0]) == HERE:
        sys.path.pop(0)  # import the benchmark as the `kgbench` package only
    sys.path.insert(0, REPO)
    import eva_opentargets_spark  # noqa: F401 - fail fast when the program is absent

    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
