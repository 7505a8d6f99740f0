"""Per-layer metrics of a traced iteration, named after the program's
modules (session, sources, mentions, linking, triples, curation, pipeline,
checkpoint, job, dedup/corpus) plus engine-wide figures.

Times are span durations; task figures (CPU, shuffle, spill, jobs) come
from Spark's status store, filtered by the job group each span set.  A
layer a workload does not reach reports 0.
"""

from __future__ import annotations

import json
import os

from . import spans

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")

# the spans behind the reported *_s layer metrics; time outside all of them
# (job.main's own glue, the tracer's status-store read) is not layer time
LAYER_SPANS = {
    "session.stop", "sources.scan", "mentions.construct", "mentions.extract", "mentions.distinct",
    "linking.construct", "linking.fuzzy", "linking.cascade", "triples.construct", "triples.emit",
    "curation.build", "pipeline.metrics", "checkpoint.waves", "checkpoint.write",
    "job.global_link", "job.curation_write", "job.metrics_write",
    "dedup.minhash_pairs", "dedup.clusters", "corpus.curate",
}


def declared(kind: str) -> dict[str, str]:
    """name -> unit of the ``kind`` metrics ("end_to_end" or "per_layer")
    that BENCHMARK.json declares, in its order."""
    with open(BENCHMARK_JSON) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def select(kind: str, values: dict) -> dict[str, tuple[float, str]]:
    """``values`` as (value, unit) in BENCHMARK.json's order; refuses a
    set of names that differs from the declared one."""
    spec = declared(kind)
    if set(values) != set(spec):
        raise KeyError(f"{kind} metrics out of sync with BENCHMARK.json: {sorted(set(values) ^ set(spec))}")
    return {k: (values[k], u) for k, u in spec.items()}


def layer_cover(tracer: spans.Tracer, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] inside at least one layer span."""
    return spans.covered([(s.start, s.end) for s in tracer.spans if s.name in LAYER_SPANS], lo, hi)


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _input_bytes(root: str) -> int:
    total = 0
    for name in ("documents.parquet", "transcripts"):
        path = os.path.join(root, name)
        if os.path.isfile(path):
            total += os.path.getsize(path)
        elif os.path.isdir(path):
            total += sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    return total


def layer_metrics(w, c: dict, tracer: spans.Tracer, store, cached, wall_s: float,
                  session_s: float, nproc: int, load: list[float]) -> dict:
    jobs, stages = store
    groups = spans.by_group(jobs, stages)
    g = lambda *names: _sum_groups(groups, names)  # noqa: E731
    t = tracer.total
    root = next(s for s in tracer.spans if s.name == "iteration")
    # the status-store read happens inside the iteration when job.main
    # stops its session; it is the tracer's time, not the program's
    snap = spans.covered(
        [(s.start, s.end) for s in tracer.spans if s.name == "trace.snapshot"], root.start, root.end
    )
    wall = root.duration - snap
    engine = g(*groups)
    busy = spans.covered([(j.submitted, j.completed) for j in jobs], root.start, root.end)
    links = c.get("links", {})
    cascade_s = t("linking.fuzzy") + t("linking.cascade")
    fuzzy_links = links.get("fuzzy", 0)
    m = {
        "session.start_s": session_s,
        "session.stop_s": t("session.stop"),
        "sources.scan_s": t("sources.scan"),
        "sources.turns_in": c.get("turns", 0),
        "sources.input_bytes": _input_bytes(w.root),
        "mentions.construct_s": t("mentions.construct"),
        "mentions.extract_s": t("mentions.extract"),
        "mentions.extract_task_cpu_s": g("mentions.extract").cpu_s,
        "mentions.turns_per_s": _ratio(c.get("turns", 0), t("mentions.extract")),
        "mentions.occurrences": c.get("occurrences", 0),
        "mentions.stoplisted": c.get("stoplisted", 0),
        "mentions.distinct_s": t("mentions.distinct"),
        "mentions.distinct": c.get("distinct", 0),
        "mentions.distinct_ratio": _ratio(c.get("distinct", 0), c.get("occurrences", 0)),
        "mentions.shuffle_bytes": g("mentions.distinct").shuffle_write_bytes,
        "linking.construct_s": t("linking.construct"),
        "linking.cascade_s": cascade_s,
        "linking.jobs": g("linking.construct", "linking.fuzzy", "linking.cascade").jobs,
        "linking.fuzzy_s": t("linking.fuzzy"),
        "linking.fuzzy_candidates": c.get("fuzzy_candidates", 0),
        "linking.fuzzy_accept_ratio": _ratio(fuzzy_links, c.get("with_candidates", 0)),
        **{f"linking.links_{k}": links.get(k, 0) for k in ("exact", "normalized", "fuzzy", "xref", "replacement")},
        "linking.unresolved": c.get("unresolved", 0),
        "linking.mentions_per_s": _ratio(c.get("distinct", 0), t("linking.construct") + cascade_s),
        "triples.emit_s": t("triples.construct") + t("triples.emit"),
        "triples.rows_out": c.get("triples", 0),
        "triples.shuffle_bytes": g("triples.emit").shuffle_write_bytes,
        "curation.build_s": t("curation.build"),
        "curation.rows_out": c.get("curation_rows", 0),
        "curation.shuffle_bytes": g("curation.build", "job.curation_write").shuffle_write_bytes,
        "curation.spill_bytes": g("curation.build", "job.curation_write").spill_bytes,
        "pipeline.metrics_s": t("pipeline.metrics"),
        "pipeline.metrics_jobs": g("pipeline.metrics").jobs,
        "checkpoint.waves_s": t("checkpoint.waves"),
        "checkpoint.write_s": t("checkpoint.write"),
        "checkpoint.bytes_written": c.get("checkpoint_bytes", 0),
        "checkpoint.files_written": c.get("checkpoint_files", 0),
        "checkpoint.bytes_per_triple": _ratio(c.get("triple_bytes", 0), c.get("triples", 0)),
        "job.global_link_s": t("job.global_link"),
        "job.curation_write_s": t("job.curation_write"),
        "job.metrics_write_s": t("job.metrics_write"),
        "dedup.minhash_pairs_s": t("dedup.minhash_pairs"),
        "dedup.candidate_pairs": c.get("candidate_pairs", 0),
        "dedup.clusters_s": t("dedup.clusters"),
        "corpus.curate_s": t("corpus.curate"),
        "corpus.kept_ratio": _ratio(c.get("kept", 0), c.get("docs", 0)),
        "spark.jobs": engine.jobs,
        "spark.stages": engine.stages,
        "spark.tasks": engine.tasks,
        "spark.task_cpu_s": engine.cpu_s,
        "spark.core_busy_ratio": _ratio(engine.run_s, wall * nproc),
        "spark.driver_gap_s": wall - busy,
        "spark.shuffle_write_bytes": engine.shuffle_write_bytes,
        "spark.spill_bytes": engine.spill_bytes,
        "spark.gc_s": engine.gc_s,
        "spark.cached_bytes_after": cached[0],
        "spark.cached_entries_after": cached[1],
        "trace.wall_s": wall,
        "trace.overhead_s": wall - wall_s,
        "trace.layer_cover_ratio": _ratio(layer_cover(tracer, root.start, root.end), wall),
        "host.nproc": nproc,
        "host.load1": load[0],
    }
    return select("per_layer", m)


def _sum_groups(groups: dict, names) -> spans.GroupStats:
    out = spans.GroupStats()
    for n in names:
        gs = groups.get(n)
        if gs is None:
            continue
        for f in vars(out):
            setattr(out, f, getattr(out, f) + getattr(gs, f))
    return out
