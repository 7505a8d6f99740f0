"""The benchmark's workloads: what one iteration runs, how its output is
checked, and the traced variant that splits it by layer.

Each workload object is built once per run over one generated input
directory.  ``expected`` computes the DuckDB answer and refuses inputs on
the wrong side of a size gate; ``iterate`` is the timed unit (input ->
complete result);
``check`` compares its output with the DuckDB answer outside the timed
window; ``traced`` runs one more iteration with spans around the calls
into each layer and returns the per-layer counts it observed.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from . import check, gen

STOP = sorted(gen.STOPLIST)


def gate_sides(n_vocabulary: int, n_terms: int, n_linked: int) -> dict[str, str]:
    """Which side of each of the program's size gates the inputs sit on."""
    from eva_opentargets_spark.config import MAPPING_LITERAL_THRESHOLD
    from eva_opentargets_spark.operators.linking import ARROW_FUZZY_TERM_THRESHOLD
    from eva_opentargets_spark.operators.mentions import GAZETTEER_EXPR_MAX_TERMS

    gates = {
        "GAZETTEER_EXPR_MAX_TERMS": (n_vocabulary, GAZETTEER_EXPR_MAX_TERMS),
        "ARROW_FUZZY_TERM_THRESHOLD": (n_terms, ARROW_FUZZY_TERM_THRESHOLD),
        "MAPPING_LITERAL_THRESHOLD": (n_linked, MAPPING_LITERAL_THRESHOLD),
    }
    return {g: ("above" if n > limit else "below") for g, (n, limit) in gates.items()}


def _require_side(workload, side: str, n_vocabulary: int, n_terms: int, n_linked: int) -> None:
    """A workload whose inputs drift across a gate would silently measure
    the other twin: refuse to run it."""
    sides = gate_sides(n_vocabulary, n_terms, n_linked)
    workload.info["gates"] = sides
    if set(sides.values()) != {side}:
        raise RuntimeError(f"{type(workload).__name__} inputs are not all {side} the size gates: {sides}")


def _linked(answer: check.KgAnswer) -> int:
    return sum(answer.metrics[f"linked_{t}"] for t in check.TIERS)


def _dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under path."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files


class WaveJob:
    """kg_wave_job: ``job.main`` (the spark-submit entry point) over
    conv_id-bucketed transcripts, demo dictionary, into a fresh output
    directory each iteration.  job.main stops the session it is given, so
    every iteration starts its own session (outside the timed window)."""

    buckets, wave_size = 4, 4

    def __init__(self, root: str, seed: int, n_turns: int):
        self.root = root
        self.info = gen.write_wave_job_inputs(root, seed, n_turns)
        self.units = self.info["turns"]
        self.answer: check.KgAnswer | None = None
        self._n = 0
        self.out_dir = ""

    def expected(self) -> None:
        from eva_opentargets_spark import fixtures

        tdir = os.path.join(self.root, "transcripts")
        self.answer = check.kg_answer(self.root, f"SELECT * FROM read_parquet('{tdir}/*.parquet')")
        n_vocab, n_terms = len(fixtures.mention_vocabulary()), len(fixtures.ONTOLOGY_TERMS)
        _require_side(self, "below", n_vocab, n_terms, _linked(self.answer))

    def load(self, spark) -> None:
        """job.py loads its own (demo) dictionary; nothing to preload."""

    def next_session(self, spark):
        """job.main stopped the last session: start another (same JVM)."""
        from eva_opentargets_spark.session import get_spark

        return get_spark()

    def iterate(self, spark) -> str:
        from eva_opentargets_spark import job

        if self.out_dir:
            shutil.rmtree(self.out_dir, ignore_errors=True)
        self._n += 1
        self.out_dir = os.path.join(self.root, f"out-{self._n}")
        job.main(
            [
                "--transcripts", os.path.join(self.root, "transcripts"),
                "--output", self.out_dir,
                "--buckets", str(self.buckets),
                "--wave-size", str(self.wave_size),
                "--run-id", f"iter-{self._n}",
            ]
        )
        return self.out_dir

    def check(self, out: str) -> list[str]:
        return check.job_output_diff(out, self.answer)

    def traced(self, spark, tracer) -> dict:
        """One job.main run with the names job.py imports (run_pipeline,
        compute_metrics, run_waves, link_cascade, curation_table) and
        DataFrameWriter.parquet wrapped in spans; restored afterwards.
        The count/collect calls job.main makes itself, after the waves,
        are its global link counters and go to ``job.global_link`` too."""
        from pyspark.sql.readwriter import DataFrameWriter

        from eva_opentargets_spark import job

        wrapped = {
            "run_pipeline": "pipeline.run",
            "compute_metrics": "pipeline.metrics",
            "run_waves": "checkpoint.waves",
            "link_cascade": "job.global_link",
            "curation_table": "curation.build",
        }
        originals = {n: getattr(job, n) for n in wrapped}
        frame_cls = type(spark.range(0))  # the concrete class (pyspark.sql.classic)
        actions = {n: getattr(frame_cls, n) for n in ("count", "collect")}
        original_parquet = DataFrameWriter.parquet

        def parquet(writer, path, *args, **kwargs):
            leaf = os.path.basename(os.path.normpath(path))
            name = {"curation": "job.curation_write", "metrics": "job.metrics_write"}.get(
                leaf, "checkpoint.write"
            )
            with tracer.span(name):
                return original_parquet(writer, path, *args, **kwargs)

        def top_level(fn):
            def action(df, *args, **kwargs):
                if tracer.current != "job":
                    return fn(df, *args, **kwargs)
                with tracer.span("job.global_link"):
                    return fn(df, *args, **kwargs)

            return action

        try:
            for n, span in wrapped.items():
                setattr(job, n, tracer.wrap(originals[n], span))
            for n, fn in actions.items():
                setattr(frame_cls, n, top_level(fn))
            DataFrameWriter.parquet = parquet
            with tracer.span("iteration"), tracer.span("job"):
                out = self.iterate(spark)
        finally:
            for n, fn in originals.items():
                setattr(job, n, fn)
            for n, fn in actions.items():
                setattr(frame_cls, n, fn)
            DataFrameWriter.parquet = original_parquet
        _, counters, curation = check.job_outputs(out)
        tri_bytes, tri_files = _dir_size(os.path.join(out, "triples"))
        side = [_dir_size(os.path.join(out, d)) for d in ("wave_metrics", "wave_distinct")]
        return {
            "errors": self.check(out),
            "turns": counters.get("turns_total", 0),
            "occurrences": counters.get("mentions_total", 0),
            "stoplisted": counters.get("mentions_stoplisted", 0),
            "distinct": counters.get("mentions_distinct", 0),
            "links": {t: counters.get(f"linked_{t}", 0) for t in check.TIERS},
            "unresolved": counters.get("unmapped", 0),
            "triples": counters.get("triples_emitted", 0),
            "curation_rows": len(curation),
            "checkpoint_bytes": tri_bytes + sum(b for b, _ in side),
            "checkpoint_files": tri_files + sum(f for _, f in side),
            "triple_bytes": tri_bytes,
        }


class CorpusLinkHeavy:
    """corpus_link_heavy: one document corpus, two consumers.
    (1) The KG pipeline against a generated ontology above all three size
    gates: run_pipeline (Arrow gazetteer UDF, Arrow fuzzy UDF), its
    triples, compute_metrics (join-form counters) and the curation sheet.
    (2) Near-duplicate curation: MinHash-LSH pairs -> 3-round clusters ->
    corpus.curate.  Every output is collected to the driver and checked."""

    def __init__(self, root: str, seed: int, n_docs: int, n_terms: int, n_pool: int):
        self.root = root
        self.info = gen.write_corpus_inputs(root, seed, n_docs, n_terms, n_pool)
        self.units = self.info["documents"]
        self.answer: check.KgAnswer | None = None
        self.curated: list[tuple] | None = None

    def expected(self) -> None:
        self.answer = check.kg_answer(self.root, check.derived_transcripts_sql())
        self.curated = check.curate_answer(self.root)
        _require_side(self, "above", self.info["vocabulary"], self.info["terms"], _linked(self.answer))

    def load(self, spark) -> None:
        """Dictionary/vocabulary load: the ontology tables as parquet scans
        (the production dimension-table form) and the gazetteer vocabulary
        as a driver-side list."""
        import pyarrow.parquet as pq

        from eva_opentargets_spark.schemas import ONTOLOGY_TERMS, ONTOLOGY_XREFS

        read = lambda name, schema: spark.read.schema(schema).parquet(os.path.join(self.root, name))  # noqa: E731
        self.terms = read("terms.parquet", ONTOLOGY_TERMS)
        self.xrefs = read("xrefs.parquet", ONTOLOGY_XREFS)
        self.vocabulary = pq.read_table(os.path.join(self.root, "vocabulary.parquet")).column("term").to_pylist()

    def next_session(self, spark):
        """Release what the last iteration cached and keep the session."""
        from .spans import clear_cached

        clear_cached(spark)
        return spark

    def _docs(self, spark):
        return spark.read.parquet(os.path.join(self.root, "documents.parquet"))

    def iterate(self, spark) -> dict:
        from eva_opentargets_spark.operators import corpus, dedup
        from eva_opentargets_spark.operators.curation import curation_table
        from eva_opentargets_spark.pipeline import compute_metrics, run_pipeline
        from eva_opentargets_spark.sources.transcripts import derive_transcripts

        res = run_pipeline(
            spark, derive_transcripts(spark, self.root), terms=self.terms, xrefs=self.xrefs,
            vocabulary=self.vocabulary,
        )
        out = {
            "triples": res.triples.collect(),
            "metrics": compute_metrics(spark, res).collect(),
            "curation": curation_table(res.unresolved, res.candidates, res.distinct).collect(),
        }
        docs = self._docs(spark)
        clusters = dedup.near_dup_clusters(docs, dedup.minhash_candidate_pairs(docs), rounds=3)
        out["curated"] = corpus.curate(docs, clusters).collect()
        return out

    def check(self, out: dict) -> list[str]:
        errors = check.metrics_diff({r["counter"]: int(r["value"]) for r in out["metrics"]}, self.answer.metrics)
        errors += check.diff(
            "curation",
            [(r["mention_norm"], int(r["freq"]), list(r["candidates"])) for r in out["curation"]],
            self.answer.curation,
        )
        errors += check.diff("triples", sorted(check.triple_key(r) for r in out["triples"]), self.answer.triples)
        errors += check.diff("curated", sorted(check.curate_key(r) for r in out["curated"]), self.curated)
        return errors

    def traced(self, spark, tracer) -> dict:
        """The same work with each layer's output materialized at its
        boundary (persist + count), construction and execution timed apart."""
        from eva_opentargets_spark.operators import corpus, dedup
        from eva_opentargets_spark.operators.curation import curation_table
        from eva_opentargets_spark.operators.linking import link_cascade
        from eva_opentargets_spark.operators.mentions import (
            distinct_mentions,
            extract_turn_mentions,
            occurrences,
            unique_per_turn,
        )
        from eva_opentargets_spark.operators.triples import emit_triples
        from eva_opentargets_spark.pipeline import PipelineResult, compute_metrics
        from eva_opentargets_spark.sources.transcripts import derive_transcripts

        c: dict = {}
        with tracer.span("iteration"):
            with tracer.span("sources.scan"):
                transcripts = derive_transcripts(spark, self.root).persist()
                c["turns"] = transcripts.count()
            with tracer.span("mentions.construct"):
                extracted = extract_turn_mentions(transcripts, self.vocabulary, include_invalid=True).persist()
            with tracer.span("mentions.extract"):
                row = extracted.agg(
                    F.sum(F.size("ms")).alias("n"),
                    F.sum(F.size(F.filter("ms", lambda m: m["mention_norm"].isin(*STOP)))).alias("stop"),
                ).first()
                c["occurrences"], c["stoplisted"] = int(row["n"] or 0), int(row["stop"] or 0)
            with tracer.span("mentions.construct"):
                mentions_all = occurrences(extracted, drop_stoplisted=False)
                mentions = mentions_all.filter(~F.col("mention_norm").isin(*STOP))
                distinct = distinct_mentions(mentions).persist()
            with tracer.span("mentions.distinct"):
                c["distinct"] = distinct.count()
            with tracer.span("linking.construct"):
                links, cands, unresolved = link_cascade(distinct, self.terms, self.xrefs)
            with tracer.span("linking.fuzzy"):
                c["fuzzy_candidates"] = cands.count()
                c["with_candidates"] = cands.select("mention_norm").distinct().count()
            with tracer.span("linking.cascade"):
                c["links"] = {
                    r["match_type"]: r["n"]
                    for r in links.groupBy("match_type").agg(F.count_distinct("mention_norm").alias("n")).collect()
                }
                c["unresolved"] = unresolved.count()
            with tracer.span("triples.construct"):
                triples = emit_triples(unique_per_turn(extracted), links, unique_per_turn=True)
            with tracer.span("triples.emit"):
                out = {"triples": triples.collect()}
                c["triples"] = len(out["triples"])
            with tracer.span("pipeline.metrics"):
                result = PipelineResult(
                    transcripts=transcripts, extracted=extracted, mentions_all=mentions_all,
                    mentions=mentions, distinct_all=distinct, distinct=distinct, links=links,
                    candidates=cands, unresolved=unresolved, triples=triples,
                )
                out["metrics"] = compute_metrics(spark, result).collect()
            with tracer.span("curation.build"):
                out["curation"] = curation_table(unresolved, cands, distinct).collect()
                c["curation_rows"] = len(out["curation"])
            docs = self._docs(spark)
            with tracer.span("dedup.minhash_pairs"):
                pairs = dedup.minhash_candidate_pairs(docs).persist()
                c["candidate_pairs"] = pairs.count()
            with tracer.span("dedup.clusters"):
                clusters = dedup.near_dup_clusters(docs, pairs, rounds=3).persist()
                clusters.count()
            with tracer.span("corpus.curate"):
                out["curated"] = corpus.curate(docs, clusters).collect()
        c["docs"] = len(out["curated"])
        c["kept"] = sum(r["drop_reason"] == "keep" for r in out["curated"])
        c["errors"] = self.check(out)
        return c
