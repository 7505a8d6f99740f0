"""Checkpoint-resume tests: idempotency (no duplicate triples after re-run)
and incremental completion — the Nextflow -resume analog (README.md:109-116)
with the A4 duplicate invariant as the oracle.
"""

from eva_opentargets_spark import synth
from eva_opentargets_spark.operators.triples import assert_no_duplicate_triples
from eva_opentargets_spark.pipeline import run_pipeline
from eva_opentargets_spark.plans.checkpoint import (
    CheckpointManifest,
    read_checkpointed_triples,
    run_with_checkpoint,
)
from eva_opentargets_spark.session import cache_scope


def test_checkpoint_resume_idempotent(spark, tmp_path):
    transcripts, _ = synth.generate(spark, n_convs=8, turns_per_conv=4, seed=5)
    out = str(tmp_path / "ckpt")

    def build(t):
        return run_pipeline(spark, t).triples

    # full run
    m1 = run_with_checkpoint(spark, transcripts, out, build, n_buckets=4, wave_size=2)
    t1 = read_checkpointed_triples(spark, out)
    n1 = t1.count()
    assert_no_duplicate_triples(t1)
    assert len(m1.completed()) == 4

    # re-run: everything checkpointed -> no recomputation, same output
    m2 = run_with_checkpoint(spark, transcripts, out, build, n_buckets=4, wave_size=2)
    t2 = read_checkpointed_triples(spark, out)
    assert t2.count() == n1
    assert_no_duplicate_triples(t2)
    assert len(m2.completed()) == 4

    # lineage rows carry per-bucket triple counts (metrics table analog)
    lineage = m2.lineage()
    assert sum(row["triples_emitted"] for row in lineage) == n1


def test_partial_resume(spark, tmp_path):
    transcripts, _ = synth.generate(spark, n_convs=8, turns_per_conv=4, seed=6)
    out = str(tmp_path / "ckpt2")

    def build(t):
        return run_pipeline(spark, t).triples

    # simulate a crashed run: only wave 1 completed
    manifest = CheckpointManifest(out)
    run_with_checkpoint(spark, transcripts, out, build, n_buckets=4, wave_size=4)
    full = read_checkpointed_triples(spark, out).count()

    # wipe two bucket markers -> those buckets recompute, output identical
    import os

    for b in (0, 1):
        os.remove(os.path.join(manifest.path, f"bucket-{b}.json"))
    run_with_checkpoint(spark, transcripts, out, build, n_buckets=4, wave_size=4)
    again = read_checkpointed_triples(spark, out)
    assert again.count() == full
    assert_no_duplicate_triples(again)


def test_run_waves_side_tables_and_cleanup(spark, tmp_path):
    """run_waves writes per-wave side tables (metrics/distinct partials) in
    the SAME wave as the triples — the single-execution job design — and
    releases what each wave persisted once its writes are done."""
    from pyspark.sql import functions as F

    from eva_opentargets_spark.pipeline import compute_metrics
    from eva_opentargets_spark.plans.checkpoint import run_waves

    transcripts, _ = synth.generate(spark, n_convs=8, turns_per_conv=4, seed=9)
    out = str(tmp_path / "waves")
    extracted = []

    def build_wave(t):
        res = run_pipeline(spark, t, persist_extracted=True)
        extracted.append(res.extracted)
        met = compute_metrics(spark, res, "r", partition="wave", corpus_only=True)
        return {"triples": res.triples, "wave_metrics": met, "wave_distinct": res.distinct}

    run_waves(spark, transcripts, out, build_wave, n_buckets=4, wave_size=2)
    assert len(extracted) == 2  # one per wave
    assert not any(df.is_cached for df in extracted)

    # per-wave corpus counters sum to the whole-corpus counters
    wave_metrics = spark.read.parquet(f"{out}/wave_metrics")
    totals = {
        r["counter"]: r["v"]
        for r in wave_metrics.groupBy("counter").agg(F.sum("value").alias("v")).collect()
    }
    with cache_scope():
        res_all = run_pipeline(spark, transcripts)
        met_all = {
            r["counter"]: r["value"]
            for r in compute_metrics(spark, res_all, "r", corpus_only=True).collect()
        }
    for k, v in met_all.items():
        assert totals[k] == v, (k, totals[k], v)

    # distinct-mention partials re-aggregate to the global distinct table
    glob = (
        spark.read.parquet(f"{out}/wave_distinct")
        .groupBy("mention_norm")
        .agg(F.sum("freq").alias("freq"), F.sum("occurrences").alias("occurrences"))
    )
    with cache_scope():
        res2 = run_pipeline(spark, transcripts)
        want = {(r["mention_norm"], r["freq"], r["occurrences"]) for r in res2.distinct.collect()}
    got = {(r["mention_norm"], r["freq"], r["occurrences"]) for r in glob.collect()}
    assert got == want


def test_spill_reload_phase_boundary(spark, tmp_path):
    """S6 — the explicit parse/process phase boundary (reference
    trait_mapping/main.py:78-97): the distinct-mention table spills to
    storage and downstream stages read the materialized file; results are
    identical to the in-memory path, in both parquet and CSV wire formats."""
    from eva_opentargets_spark.plans.checkpoint import spill_reload
    from eva_opentargets_spark.pipeline import run_pipeline
    from eva_opentargets_spark.sources.transcripts import derive_transcripts

    t = derive_transcripts(spark, "/root/testdata/sf0.001")
    with cache_scope():
        res_mem = run_pipeline(spark, t)
        res_spill = run_pipeline(spark, t, spill_dir=str(tmp_path / "phases"))

        # the spilled table exists on disk and is what downstream read
        import os
        assert os.path.isdir(tmp_path / "phases" / "distinct_mentions")
        want = {tuple(r) for r in res_mem.links.collect()}
        got = {tuple(r) for r in res_spill.links.collect()}
    assert got == want

    # CSV wire format round-trips the dictionary-scale table too (the
    # reference's actual spill format)
    dm = res_mem.distinct_all
    back = spill_reload(dm, str(tmp_path / "dm_csv"), fmt="csv")
    a = {(r["mention_norm"], int(r["freq"])) for r in dm.collect()}
    b = {(r["mention_norm"], int(r["freq"])) for r in back.collect()}
    assert a == b
